"""Compare benchmark run records like with like.

    python3 perfbench/compare.py BASE.json NEW.json

Each argument is a record that ``run.py`` wrote under
``.perfbench/records/``.  Records taken on a different number of cores
or at a different scale factor are refused, because their timings say
nothing about each other.  Prints, per metric present in both records,
the two values and NEW/BASE.
"""

from __future__ import annotations

import json
import sys

# fields that must agree before two records' timings may be compared
MUST_MATCH = ("cores", "sf", "workload")


def mismatch(a: dict, b: dict) -> list[str]:
    """The MUST_MATCH fields on which two records differ."""
    return [
        f"{k}: {a.get(k)!r} != {b.get(k)!r}"
        for k in MUST_MATCH
        if a.get(k) != b.get(k)
    ]


def metrics(rec: dict) -> dict[str, float]:
    out = {k: v["value"] for k, v in rec["metrics"].items()}
    out.update({k: v["value"] for k, v in rec.get("layers", {}).items()})
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (json.load(open(p)) for p in argv)
    bad = mismatch(base, new)
    if bad:
        print("refusing to compare unlike records: " + "; ".join(bad),
              file=sys.stderr)
        return 2
    for k in ("commit", "source_digest", "versions", "master"):
        if base.get(k) != new.get(k):
            print(f"note: {k} differs: {base.get(k)} -> {new.get(k)}")
    mb, mn = metrics(base), metrics(new)
    for k in sorted(mb.keys() & mn.keys()):
        ratio = mn[k] / mb[k] if mb[k] else float("nan")
        print(f"{k:36s} {mb[k]:14.4f} {mn[k]:14.4f} {ratio:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
