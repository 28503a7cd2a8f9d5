"""Measure the registry on generated inputs, and draw ``pool.json`` from it.

    python3 perfbench/calibrate.py measure --out perfbench/calibration.jsonl
    python3 perfbench/calibrate.py pool perfbench/calibration.jsonl

``measure`` runs every registry query outside the ``mapreduce`` module on
the seed-``SEED`` inputs, in chunks of ``CHUNK``, each chunk in a fresh
application: three rounds of the chunk in registry order, so the first
round is each query's first run and the next two are warm runs with the
chunk's other queries in between.  For each query it writes one JSON line: the first-run
and median warm ``fn()`` + noop-sink seconds, the model-store entries its
first run built, its output rows and its oracle verdict (or the error).

``pool`` rewrites ``pool.json`` from those lines by the rule in ``pool()``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.harness import RunEnv, noop, shutdown_jvm, start_session, stop_session  # noqa: E402

POOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pool.json")
SEED = 1
CHUNK = 40
ROUNDS = 3
# the ROADMAP item 4 driver loops, kept apart from the plain mix
ITERATIVE = (
    "graph_pagerank", "graph_hits_bipartite", "graph_kcore_2core", "graph_lpa_communities",
    "dedup_clusters", "embedding_kmeans_ivf_train", "embedding_top_pc_power_iteration",
    "embedding_coreset_kcenter", "token_bpe_train_3merges",
)
# plain queries per pass: the middle one of each of PLAIN_STRATA
# equal-count warm-cost strata of the plain candidates
PLAIN_STRATA = 3
# the stream of each pass: a stateful dropDuplicates, so the state-store
# phases are measured (a stateless stream has none)
STREAM_LEAD = "streaming_dedup_keys"


def group_of(name: str, module: str) -> str:
    if module == "streaming":
        return "streaming"
    return "iterative" if name in ITERATIVE else "plain"


def measure(out_path: str) -> None:
    env = RunEnv(SEED)
    try:
        tables = os.path.join(env.inputs, "tables")
        gen.tables(tables, SEED)
        from eecs485_p4_mapreduce_spark.plans import REGISTRY
        from perfbench.check import Oracle

        names = [n for n, spec in REGISTRY.items()
                 if not spec.fn.__module__.endswith(".mapreduce")]
        oracle = Oracle(tables, env.tmp, env.cpus)
        with open(out_path, "w", encoding="utf-8") as out:
            for i in range(0, len(names), CHUNK):
                spark, _, _ = start_session(tables, env.cpus)
                recs = {}
                for name in names[i:i + CHUNK]:
                    module = REGISTRY[name].fn.__module__.rsplit(".", 1)[-1]
                    recs[name] = {"name": name, "module": module,
                                  "group": group_of(name, module), "runs": []}
                last = {}
                for _ in range(ROUNDS):
                    for name, rec in recs.items():
                        if "error" in rec:
                            continue
                        before = env.model_dirs()
                        t0 = time.perf_counter()
                        try:
                            df = REGISTRY[name].fn(spark, tables)
                            noop(df)
                        except Exception as e:  # noqa: BLE001 -- recorded, query left out
                            rec["error"] = f"{type(e).__name__}: {str(e)[:200]}"
                            continue
                        rec["runs"].append(round(time.perf_counter() - t0, 3))
                        rec.setdefault("builds", len(env.model_dirs() - before))
                        last[name] = df
                for name, rec in recs.items():
                    if "error" not in rec:
                        spec = REGISTRY[name]
                        rec["cold"] = rec["runs"][0]
                        rec["warm"] = statistics.median(rec["runs"][1:])
                        rec["rows"] = len(oracle.con.sql(spec.oracle).fetchall())
                        try:
                            rec["mismatch"] = oracle.mismatch(last[name], spec.oracle)
                        except Exception as e:  # noqa: BLE001
                            rec["mismatch"] = f"check raised {type(e).__name__}: {str(e)[:200]}"
                    out.write(json.dumps(rec) + "\n")
                out.flush()
                stop_session(spark)
    finally:
        shutdown_jvm()
        env.close()


def pool(lines: list[dict]) -> dict:
    """The query pools of ``query_mix``, drawn from calibration lines.

    A query is eligible when it ran without error and matched its oracle.
    ``plain`` is cut into ``PLAIN_STRATA`` equal-count strata by warm cost,
    and the query at each stratum's middle rank is kept, so the plain
    queries span the registry's cost distribution.  ``iterative`` keeps the
    eligible loop of lowest warm cost whose first run builds a model-store
    entry; ``streaming`` keeps ``STREAM_LEAD``."""
    ok = [r for r in lines if "error" not in r and r.get("mismatch") is None]
    plain = sorted((r for r in ok if r["group"] == "plain"), key=lambda r: (r["warm"], r["name"]))
    n = len(plain)
    chosen = [plain[round((k + 0.5) * n / PLAIN_STRATA - 0.5)] for k in range(PLAIN_STRATA)]
    warm = [r["warm"] for r in plain]
    deciles = statistics.quantiles(warm, n=10)

    def lead(keep) -> list:
        r = min((r for r in ok if keep(r)), key=lambda r: (r["warm"], r["name"]))
        return [r["name"], r["warm"]]

    return {
        "about": "Written by perfbench/calibrate.py pool from perfbench/calibration.jsonl "
                 f"(seed-{SEED} inputs, local[4]); cost = median warm fn()+noop seconds. "
                 "See calibrate.pool() for the rule.",
        "distribution": {
            "plain_measured": sum(r["group"] == "plain" for r in lines),
            "plain_eligible": n,
            "left_out": {r["name"]: r.get("error") or r["mismatch"]
                         for r in lines if r not in ok},
            "plain_warm_deciles_s": [round(d, 3) for d in deciles],
            "plain_warm_min_max_s": [warm[0], warm[-1]],
        },
        "plain": [[r["name"], r["warm"]] for r in chosen],
        "iterative": lead(lambda r: r["group"] == "iterative" and r["builds"] > 0),
        "streaming": lead(lambda r: r["name"] == STREAM_LEAD),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    m = sub.add_parser("measure")
    m.add_argument("--out", required=True)
    p = sub.add_parser("pool")
    p.add_argument("lines")
    args = ap.parse_args()
    if args.cmd == "measure":
        measure(args.out)
        return
    with open(args.lines, encoding="utf-8") as fh:
        lines = [json.loads(ln) for ln in fh if ln.strip()]
    with open(POOL, "w", encoding="utf-8") as fh:
        json.dump(pool(lines), fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
