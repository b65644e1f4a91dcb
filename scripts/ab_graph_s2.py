"""Serial ABBA panel for the session-2 graph changes at sf0.1.
Usage: python scripts/ab_graph_s2.py <repo_root> <tag> <mode: bench|inline> [passes]
bench  = build jsig+sketch at session start (bench.py methodology), queries take the read path when fresh
inline = SPARK_GRAFT_JACCARD_SIG_DISABLE=1 (pure plan comparison)
"""
import json, os, sys, time
PANEL = [
    "q1_pricing_summary",
    "graph_lpa_modularity",
    "graph_local_clustering",
    "graph_resource_allocation",
    "graph_label_propagation",
    "graph_triangle_count",
    "graph_jaccard_neighbors",
    "graph_degree_assortativity",
    "graph_kcore_summary",
]
sf_dir = "/root/testdata/sf0.1"
def force(df):
    df.write.format("noop").mode("overwrite").save()
def main():
    os.environ.setdefault("SPARK_GRAFT_REQUIRE_UTC", "1")
    repo, tag, mode = sys.argv[1], sys.argv[2], sys.argv[3]
    passes = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    if mode == "inline":
        os.environ["SPARK_GRAFT_JACCARD_SIG_DISABLE"] = "1"
    sys.path.insert(0, repo)
    from alexandria_pipeline_spark import QUERIES, get_spark, register_all
    from alexandria_pipeline_spark.registry import release_persisted
    register_all()
    spark = get_spark(f"ab2-{tag}-{mode}", cpus="32")
    spark.sparkContext.setLogLevel("ERROR")
    build = None
    if mode == "bench":
        from alexandria_pipeline_spark.operators.graph import run_jaccard_sig_build_job
        t0 = time.perf_counter()
        run_jaccard_sig_build_job(spark, sf_dir)
        build = round(time.perf_counter() - t0, 3)
    force(QUERIES["q1_pricing_summary"](spark, sf_dir))
    release_persisted()
    runs = {q: [] for q in PANEL}
    for p in range(passes):
        for q in PANEL:
            spark.sparkContext.setJobDescription(f"ab2[{tag}/{mode}] pass{p} {q}")
            t0 = time.perf_counter()
            force(QUERIES[q](spark, sf_dir))
            runs[q].append(round(time.perf_counter() - t0, 3))
            release_persisted()
    print(json.dumps({"tag": tag, "mode": mode, "jsig_build_sec": build,
                      "runs": runs, "min": {q: min(v) for q, v in runs.items()}}))
    spark.stop()
if __name__ == "__main__":
    main()
