#!/usr/bin/env python3
"""Cross-round bench reference updater with a per-query MIN RATCHET
(round-12 verdict item 2).

Before round 13 the refs in tools/bench_ref_sf{0.1,1}.json were regenerated
each round FROM that round's own clean pass — self-referential: a <2x
per-round regression re-baselined itself every round, so three rounds of
1.8x compound to 5.8x with over_ref_2x empty every time. This script makes
slow drift impossible to self-launder:

    new_ref[q] = min(old_ref[q], this_round_clean[q])   # existing queries
    new_ref[q] = this_round_clean[q]                    # new queries only

so a slower clean run leaves the bar exactly where it was, and only a real
measured improvement can lower it. Raising a reference (e.g. after a
deliberate semantic change that legitimately costs more) is a judge-reviewed
manual edit, not something a finalize pass can do by accident.

The refs ratchet from per-query MEDIANS: each graft.Bench row is the median
of its samples over several passes, and its record says how many in "n".
A record without "n" is a single-pass artifact from before medians; its
cold first passes and warm retimes are not comparable with medians, so it
is refused and can never lower the bar.

Refuses contended bench artifacts: a loaded-machine pass must never touch
the bar in either direction.

Usage: update_bench_refs.py <bench_json> <ref_json>
  bench_json: a graft.Bench output line/file (has "n", "queries" and
              "contended")
  ref_json:   tools/bench_ref_<sf>.json to update in place
"""
import json
import sys


def load_bench(path):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("{") and '"metric"' in line:
                return json.loads(line)
    raise SystemExit(f"no bench JSON line in {path}")


def main():
    bench_path, ref_path = sys.argv[1], sys.argv[2]
    bench = load_bench(bench_path)
    if "n" not in bench:
        raise SystemExit(
            f"{bench_path} has no \"n\" field — a single-pass artifact from "
            "before per-query medians must not move the bar that medians are "
            "compared to")
    if bench.get("contended"):
        raise SystemExit(
            f"{bench_path} is flagged contended — a loaded-machine pass "
            "must not touch the cross-round reference; re-run the bench "
            "clean first")
    new = {q: t for q, t in bench["queries"].items() if t is not None and t > 0}
    try:
        with open(ref_path) as f:
            old_doc = json.load(f)
        old = old_doc.get("queries", {})
    except FileNotFoundError:
        old_doc, old = {}, {}
    merged, lowered, held = {}, [], []
    for q in sorted(set(old) | set(new)):
        if q not in new:
            merged[q] = old[q]  # not run this round: bar unchanged
        elif q not in old:
            merged[q] = new[q]  # first measurement IS the bar
        else:
            merged[q] = min(old[q], new[q])
            (lowered if new[q] < old[q] else held).append(q)
    doc = {
        "sf": old_doc.get("sf") or bench.get("sf", ""),
        "source": (
            f"per-query min ratchet (r13+): min(previous ref, clean pass "
            f"commit {bench.get('commit', 'unknown')}); a slower clean run "
            "cannot raise the bar"),
        "queries": merged,
    }
    with open(ref_path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"[refs] {ref_path}: {len(merged)} queries, "
          f"{len(lowered)} lowered, {len(held)} held at previous bar")


if __name__ == "__main__":
    main()
