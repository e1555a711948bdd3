"""Compare two traced benchmark records layer by layer.

    python3 perfbench/diff.py BASE.json NEW.json [BASE2.json NEW2.json ...]

Each argument pair is the record a ``--trace 1`` run wrote under
``.perfbench_records/`` for the same workload, e.g. on a parent commit and
on a change.  For every layer the tool prints self time, Spark jobs, tasks
and shuffle bytes of the base, the new value, and the delta with its base.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict

from stats import self_time

FIELDS = ("self_s", "jobs", "tasks", "shuffle_bytes")


def layer_of(span: dict) -> str:
    """``search:sphere10_d1`` -> ``search``; child spans keep their name."""
    return span["name"].split(":", 1)[0]


def layer_table(record: dict) -> dict[str, dict[str, float]]:
    """Per layer: summed self time of its spans, and the Spark totals of
    the operations of that kind in the traced pass."""
    spans = record.get("spans") or []
    if not spans:
        raise ValueError(f"{record.get('workload')}: record has no spans; "
                         "was it written by a --trace 1 run?")
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    for s in spans:
        out[layer_of(s)]["self_s"] += self_time((s["start"], s["end"]), children[s["id"]])
    for op in record.get("traced_pass", []):
        sp = op.get("spark") or {}
        row = out[op["kind"]]
        row["jobs"] += sp.get("jobs", 0)
        row["tasks"] += sp.get("tasks", 0)
        row["shuffle_bytes"] += sp.get("shuffle_read_bytes", 0) + sp.get("shuffle_write_bytes", 0)
    return dict(out)


def diff_rows(base: dict, new: dict):
    """Yield ``(layer, field, base, new, delta, share)``; ``share`` is the
    delta over its base, None where the base is 0."""
    a, b = layer_table(base), layer_table(new)
    for layer in sorted(a.keys() | b.keys()):
        for f in FIELDS:
            x = a.get(layer, {}).get(f, 0.0)
            y = b.get(layer, {}).get(f, 0.0)
            yield layer, f, x, y, y - x, ((y - x) / x if x else None)


def main(argv: list[str]) -> int:
    if len(argv) < 2 or len(argv) % 2:
        print(__doc__, file=sys.stderr)
        return 2
    for base_path, new_path in zip(argv[::2], argv[1::2]):
        with open(base_path) as fh:
            base = json.load(fh)
        with open(new_path) as fh:
            new = json.load(fh)
        if base["workload"] != new["workload"]:
            print(f"workloads differ: {base['workload']} vs {new['workload']}", file=sys.stderr)
            return 2
        print(f"== {base['workload']} (seed {base['seed']} -> {new['seed']})")
        print(f"{'layer':24s} {'field':14s} {'base':>14s} {'new':>14s} {'delta':>14s} {'of base':>8s}")
        for layer, f, x, y, d, share in diff_rows(base, new):
            pct = "n/a" if share is None else f"{share:+.1%}"
            print(f"{layer:24s} {f:14s} {x:14.4f} {y:14.4f} {d:+14.4f} {pct:>8s}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
