#!/usr/bin/env python3
"""Assemble SCALE_r{N}.json — the per-round scale + drift report.

Usage:
  scale_report.py --round N --sf01 bench_sf01.json --sf1 bench_sf1.json \
      [--prev prev_tag_bench.json] [--note "text"]... [-o SCALE_rN.json]

Inputs are graft.Bench JSON lines captured to files:
  --sf01  this round's HEAD binary at sf0.1
  --sf1   this round's HEAD binary at /tmp/graft_sf1 (10x rows via
          scripts/make_scale.py; near-dup density held constant)
  --prev  (optional) the PREVIOUS round's tagged binary run back-to-back
          in the same session as --sf01 — the only drift comparison this
          report trusts (box variance routinely exceeds round deltas)

Ratio interpretation: stage-floor-bound queries stay ~1x; data-bound
queries should stay at or below ~10x (linear); anything clearly above
10x needs a written explanation (--note).
"""
import argparse
import json


def load(p):
    with open(p) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--sf01", required=True)
    ap.add_argument("--sf1", required=True)
    ap.add_argument("--prev", default=None)
    ap.add_argument("--solo", default=None,
                    help="Bench JSON of the top-cost queries re-run SOLO "
                         "at the sf1 dir (SPARK_GRAFT_BENCH_ONLY=...): "
                         "deconfounds in-run contention — r12's dedup_exact "
                         "read 50s in-run but 18s solo. Folded into "
                         "per_query as solo_sec/solo_ratio.")
    ap.add_argument("--stream-latency", default=None,
                    help="target/STREAM_LATENCY.jsonl (written by "
                         "StreamingSpec); the LAST line per suite is "
                         "folded in as streaming_latency.")
    ap.add_argument("--note", action="append", default=[])
    ap.add_argument("-o", "--out", default=None)
    args = ap.parse_args()

    cur = load(args.sf01)
    sf1 = load(args.sf1)
    out = {
        "round": args.round,
        "data": "sf1 probe = 10x sf0.1 via scripts/make_scale.py "
                "(shifted keys, per-copy token/vector perturbation; "
                "near-dup density held constant)",
        "analysis": args.note,
    }

    if args.prev:
        prev = load(args.prev)
        common = [q for q in prev["queries"] if q in cur["queries"]]
        out["drift_deconfound"] = {
            "prev_total_sf01_backtoback": prev["value"],
            "head_total_sf01": cur["value"],
            "prev_min_total": prev["min_total"],
            "head_min_total": cur["min_total"],
            "common_query_ratio_head_over_prev": round(
                sum(cur["queries"][q] for q in common)
                / sum(prev["queries"][q] for q in common), 3),
            "per_query_ratio": {
                q: round(cur["queries"][q] / prev["queries"][q], 2)
                for q in common},
        }

    solo = load(args.solo)["queries"] if args.solo else {}
    scale = {}
    for q, t1 in sf1["queries"].items():
        t01 = cur["queries"].get(q)
        if t01 and t01 > 0 and t1 > 0:
            scale[q] = {"sf0.1_sec": t01, "sf1_sec": t1,
                        "ratio": round(t1 / t01, 2)}
            ts = solo.get(q)
            if ts and ts > 0:
                scale[q]["solo_sec"] = ts
                scale[q]["solo_ratio"] = round(ts / t01, 2)
    worst = max(scale.values(), key=lambda v: v["ratio"], default=None)
    out["sf1_scale_probe"] = {
        "rows_factor": 10,
        "sf0.1_total": cur["value"],
        "sf1_total": sf1["value"],
        "sf1_min_total": sf1["min_total"],
        "worst_ratio": worst["ratio"] if worst else None,
        "per_query": dict(sorted(scale.items(),
                                 key=lambda kv: -kv[1]["ratio"])),
    }

    if args.stream_latency:
        latest = {}
        with open(args.stream_latency) as f:
            for ln in f:
                ln = ln.strip()
                if ln:
                    rec = json.loads(ln)
                    latest[rec.get("suite", "?")] = rec
        out["streaming_latency"] = latest

    dest = args.out or f"SCALE_r{args.round:02d}.json"
    with open(dest, "w") as f:
        json.dump(out, f, indent=1)
    if "drift_deconfound" in out:
        print(json.dumps(out["drift_deconfound"], indent=1))
    for q, v in out["sf1_scale_probe"]["per_query"].items():
        print(f"{q:20s} {v['sf0.1_sec']:7.3f} -> {v['sf1_sec']:8.3f}  x{v['ratio']}")


if __name__ == "__main__":
    main()
