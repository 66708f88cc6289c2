"""Heavy-tier scaling bench: the top data-bound queries at ~sf1.

The headline bench (bench.py, sf0.1) cannot demonstrate parallel
scaling — 70/71 queries run at the same wall on 8 cores as on 32
because at that SF wall is driver/planning latency, not data work
(PERF_r12 scaling block). This tool times the ~10 heaviest data-bound
query paths against the Kx heavy dataset (tools/heavy_gen.py) so an
8-vs-32-core ratio measures the ENGINE's parallelism, converting
"scale-safe at 100 TB" from plan arithmetic into a measured curve.

Honors the same driver contract as bench.py: core count from
$SPARK_GRAFT_CPUS (master local[$SPARK_GRAFT_CPUS]), data directory
from $SPARK_GRAFT_HEAVY_DIR (default /root/heavydata/sf1), one JSON
line on stdout. Methodology: per query, one warm pass at sf0.01
(codegen/JIT + scan-cache warmup at toy scale — NOT the measured
data), then ONE timed pass through the noop sink at heavy scale with
every operator-persisted intermediate released afterwards, so each
measurement computes its full pipeline from parquet. Single-pass
because a min-of-2 at this scale would serve persist-heavy pass 2
from cache and hide exactly the data work this tool exists to see.

Usage: python tools/heavy_bench.py [--isolated] [query ...]
       (default: all HEAVY; --isolated = one cold subprocess per query,
       the artifact-grade mode — see _isolated's docstring)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEAVY = [
    "supplier_cooccurrence_triangles",
    "part_graph_kcore",
    "part_link_prediction",
    "part_copurchase_communities",
    "pagerank_part_supplier",
    "resolved_document_entities",
    "doc_containment_pairs",
    "doc_kn_trigram_logprob",
    "logreg_quality_scores",
    "kmeans_embedding_clusters",
]


def _isolated(names: list[str]) -> None:
    """One SUBPROCESS (cold JVM + session) per query, results merged.

    Measuring all 10 queries in one session poisons the numbers with
    cross-query JVM state: after part_link_prediction's ~12 GB shuffle
    the shared heap is full of garbage and the NEXT queries pay its GC
    — measured doc_kn_trigram_logprob at 34.6 s in suite position vs
    9.5 s isolated (3.5x inflation), which destroys an 8-vs-32-core
    ratio. Per-query processes make every measurement independent of
    ordering; each subprocess still does its own sf0.01 warm pass so
    codegen/JIT stay out of the timed region.
    """
    import subprocess
    timings: dict[str, float] = {}
    query_loadavg: dict[str, float] = {}
    for name in names:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), name],
            capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        try:
            d = json.loads(lines[-1]) if out.returncode == 0 else {}
        except (json.JSONDecodeError, IndexError):
            d = {}
        t = d.get("queries", {}).get(name)
        if t is None:
            sys.stderr.write(f"{name}: subprocess failed (exit "
                             f"{out.returncode}), skipped\n"
                             + out.stderr[-2000:] + "\n")
            continue
        timings[name] = t
        query_loadavg[name] = d.get("query_loadavg_1m", {}).get(name)
    print(json.dumps({
        "metric": "heavy-tier wall clock (isolated)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0),
        "heavy_dir": os.environ.get("SPARK_GRAFT_HEAVY_DIR",
                                    "/root/heavydata/sf1"),
        "loadavg": list(os.getloadavg()),
        "query_loadavg_1m": query_loadavg,
        "isolated": True,
    }))


def main() -> None:
    # Cluster-posture reduce parallelism (documented methodology): the
    # heavy tier exists to measure DATA-bound scaling, and AQE can only
    # coalesce the initial partition number down, never split it up —
    # with a core-count initial hint a ~12 GB exchange lands on a few
    # reduce tasks sharing one heap (spill; 1.8x slower than 512-way
    # at 32 cores, OPTIMIZATION_r13.md). 512 is the
    # production posture session.py documents for data-sized
    # exchanges; AQE coalesces small exchanges back to ~core count.
    os.environ.setdefault("SPARK_GRAFT_INITIAL_PARTITIONS", "512")
    names_cli = [a for a in sys.argv[1:] if not a.startswith("-")]
    if "--isolated" in sys.argv[1:]:
        _isolated(names_cli or HEAVY)
        return
    from pipelines_rj_sms_spark.session import get_spark, load_tables
    from pipelines_rj_sms_spark.operators.cache import release, release_all
    import __spark_entry__ as entry_mod

    heavy_dir = os.environ.get("SPARK_GRAFT_HEAVY_DIR",
                               "/root/heavydata/sf1")
    if not os.path.isdir(heavy_dir):
        sys.exit(f"heavy dataset missing: {heavy_dir} "
                 f"(run tools/heavy_gen.py first)")
    names = names_cli or HEAVY

    spark = get_spark("heavy-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()

    warm_dir = "/root/testdata/sf0.01"
    if os.path.isdir(warm_dir):
        for name in names:
            df = qs[name](spark, warm_dir)
            df.write.mode("overwrite").format("noop").save()
            release(df)
        release_all()

    load_tables(spark, heavy_dir)
    timings: dict[str, float] = {}
    query_loadavg: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"heavy:{name}")
        t0 = time.monotonic()
        df = qs[name](spark, heavy_dir)
        df.write.mode("overwrite").format("noop").save()
        timings[name] = round(time.monotonic() - t0, 3)
        query_loadavg[name] = round(os.getloadavg()[0], 2)
        release(df)
        release_all()  # cold start for the next query, bounded memory
        spark.sparkContext.setJobDescription(None)

    print(json.dumps({
        "metric": "heavy-tier wall clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0),
        "heavy_dir": heavy_dir,
        "loadavg": list(os.getloadavg()),
        "query_loadavg_1m": query_loadavg,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
