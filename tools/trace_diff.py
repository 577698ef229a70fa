#!/usr/bin/env python3
"""Diff two perfbench traces span by span.

    python3 tools/trace_diff.py BEFORE.json AFTER.json [--markdown]

A trace is the JSON a traced run writes (`python3 perfbench/run.py
--workload W --seed N --seconds 3 --trace 1` leaves
perfbench/out/trace-W-seedN.json). Spans pair up by name and by their
order among spans of that name, so the k-th `plans.merge` of one run
meets the k-th of the other. Each pair prints jobs, tasks, rows_read,
shuffle_bytes, driver_ms and ms as before -> after (change); spans
present on one side only are listed with the side they come from, and
the end-to-end metrics close the table.
"""
import argparse
import json
import sys

METRICS = ("jobs", "tasks", "rows_read", "shuffle_bytes", "driver_ms", "ms")


def keyed(spans):
    """(name, k) -> span, k counting earlier spans of the same name."""
    seen, out = {}, {}
    for s in spans:
        k = seen.get(s["name"], 0)
        seen[s["name"]] = k + 1
        out[(s["name"], k)] = s
    return out


def cell(a, b):
    if a is None or b is None:
        return f"{'-' if a is None else fmt(a)} -> {'-' if b is None else fmt(b)}"
    pct = f" ({(b - a) / a:+.0%})" if a else ""
    return f"{fmt(a)} -> {fmt(b)}{pct}"


def fmt(v):
    return f"{v:,.0f}" if isinstance(v, (int, float)) else str(v)


def rows(before, after):
    b, a = keyed(before["spans"]), keyed(after["spans"])
    order = list(b) + [k for k in a if k not in b]
    for key in order:
        sb, sa = b.get(key), a.get(key)
        label = f"{key[0]}#{key[1] + 1}"
        if sb is None or sa is None:
            label += " (after only)" if sb is None else " (before only)"
        yield [label] + [cell(sb and sb[m], sa and sa[m]) for m in METRICS]
    ends = sorted(set(before.get("end_to_end", {})) | set(after.get("end_to_end", {})))
    for name in ends:
        vb = before.get("end_to_end", {}).get(name, {}).get("value")
        va = after.get("end_to_end", {}).get(name, {}).get("value")
        yield [name, cell(vb, va)] + [""] * (len(METRICS) - 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--markdown", action="store_true",
                    help="print a markdown table instead of aligned text")
    args = ap.parse_args()
    with open(args.before) as f:
        before = json.load(f)
    with open(args.after) as f:
        after = json.load(f)
    if before.get("workload") != after.get("workload"):
        sys.exit(f"workloads differ: {before.get('workload')} vs {after.get('workload')}")
    header = ["span"] + list(METRICS)
    table = [header] + list(rows(before, after))
    print(f"# {before.get('workload')}: seed {before.get('seed')} -> seed {after.get('seed')}")
    if args.markdown:
        print("| " + " | ".join(header) + " |")
        print("|" + "---|" * len(header))
        for r in table[1:]:
            print("| " + " | ".join(r) + " |")
    else:
        widths = [max(len(r[i]) for r in table) for i in range(len(header))]
        for r in table:
            print("  ".join(c.ljust(w) for c, w in zip(r, widths)).rstrip())


if __name__ == "__main__":
    main()
