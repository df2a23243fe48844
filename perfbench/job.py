"""One fresh Spark session of the benchmark, run as its own process.

    python3 perfbench/job.py SPEC.json

SPEC names the spans to run, in order. The process starts a session on
``local[cores]`` through ``session.get_spark`` (which includes
``assert_embed_golden``), warms the Python workers on a tiny input, then
runs each span under ``SparkContext.setJobGroup(span)`` so the event log
attributes every job to it, and writes one JSON result: wall-clock marks
of the set-up, each span's seconds and outputs, and the persisted-RDD
count after the first span (the workload call).
"""

from __future__ import annotations

import json
import sys
import time

import pyspark.sql.functions as F


def _lang_filter(lang):
    return {"must": [{"key": "lang", "match": {"value": lang}}]} \
        if lang else None


def _delta_frames(spark, spec):
    ind = spec["inputs"]
    return (spark.read.parquet(f"{ind}/delta/prior.parquet"),
            spark.read.parquet(f"{ind}/delta/indexed.parquet"))


def _extraction_pages(spark, spec):
    """The pages a workload sends through extraction: the whole corpus
    for build, the reconcile work list (added + changed) for delta —
    the same work list run_incremental builds."""
    from code_indexer_spark.plans.pipeline import read_pages
    from code_indexer_spark.sources.tables import reconcile_status

    pages = read_pages(spark, spec["kg_dir"], for_udf=True)
    if spec["workload"] != "delta":
        return pages
    _, indexed = _delta_frames(spark, spec)
    current = pages.select("url", F.md5(F.col("html")).alias("h"))
    work = reconcile_status(indexed, current, ["url"]) \
        .filter(F.col("status").isin("added", "changed")).select("url")
    return pages.join(work, "url")


def span_build(spark, spec):
    from code_indexer_spark.plans.pipeline import run_pipeline

    return {"counts": run_pipeline(spark, spec["kg_dir"], spec["out_dir"])}


def span_delta(spark, spec):
    from code_indexer_spark.plans.pipeline import run_incremental

    prior, indexed = _delta_frames(spark, spec)
    run_incremental(spark, spec["kg_dir"], prior, indexed) \
        .write.mode("overwrite").parquet(f"{spec['out_dir']}/delta.parquet")
    return {}


def span_calib(spark, spec):
    """Fixed scan-aggregate whose plan and input never change (best of
    2), so host drift shows next to every traced number."""
    best = float("inf")
    for _ in range(2):
        t = time.monotonic()
        (spark.read.parquet(spec["calib"]).groupBy("k")
         .agg(F.sum("v"), F.avg("w"), F.count(F.lit(1))).collect())
        best = min(best, time.monotonic() - t)
    return {"best_s": best}


def _observed_noop(df, name):
    from pyspark.sql import Observation

    obs = Observation(name)
    df.observe(obs, F.count(F.lit(1)).alias("n")) \
        .write.format("noop").mode("overwrite").save()
    return {"rows_out": obs.get["n"]}


def span_op_triples(spark, spec):
    from code_indexer_spark.plans.pipeline import read_alias
    from code_indexer_spark.operators.triples import (broadcast_alias_rows,
                                                      extract_triples_fused)

    alias_bc = broadcast_alias_rows(spark, read_alias(spark, spec["kg_dir"]))
    return _observed_noop(
        extract_triples_fused(_extraction_pages(spark, spec), alias_bc),
        "triples")


def span_op_chunks(spark, spec):
    from code_indexer_spark.operators.extract import build_chunks_fused

    return _observed_noop(build_chunks_fused(_extraction_pages(spark, spec)),
                          "chunks")


def span_reconcile(spark, spec):
    from code_indexer_spark.plans.pipeline import read_pages
    from code_indexer_spark.sources.tables import reconcile_status

    _, indexed = _delta_frames(spark, spec)
    pages = read_pages(spark, spec["kg_dir"])
    current = pages.select("url", F.md5(F.col("html")).alias("h"))
    rows = reconcile_status(indexed, current, ["url"]) \
        .groupBy("status").count().collect()
    return {"status": {r["status"]: r["count"] for r in rows}}


def _docs(spark, spec):
    return spark.read.parquet(f"{spec['inputs']}/docs.parquet")


def span_simhash(spark, spec):
    from code_indexer_spark.operators.dedup import simhash_pairs

    return {"pairs": [[r["id_a"], r["id_b"], r["hamming"]]
                      for r in simhash_pairs(_docs(spark, spec)).collect()]}


def span_resolution(spark, spec):
    from code_indexer_spark.operators.dedup import dedup_resolution

    return {"keep": {r["doc_id"]: r["keep_id"]
                     for r in dedup_resolution(_docs(spark, spec)).collect()}}


def span_cooccur(spark, spec):
    from code_indexer_spark.operators.textstats import cooccur_pmi

    return {"rows": len(cooccur_pmi(_docs(spark, spec)).collect())}


def span_domain_cap(spark, spec):
    from code_indexer_spark.operators.textstats import domain_cap

    rows = domain_cap(_docs(spark, spec)).groupBy("grp").count().collect()
    return {"kept": {r["grp"]: r["count"] for r in rows}}


def span_search(spark, spec):
    """Materialize the chunks table, then one client issues the seeded
    queries back to back: high, balanced and fast semantic_search (with
    the query's lang filter, if any) and hybrid_search, k=10 each."""
    from code_indexer_spark.plans.pipeline import cached_chunks
    from code_indexer_spark.plans.search import hybrid_search, semantic_search

    t = time.monotonic()
    chunks = cached_chunks(spark, spec["kg_dir"])
    materialize_s = time.monotonic() - t
    out = {"materialize_s": materialize_s, "queries": []}
    for q in spec["queries"]:
        rec = {"text": q["text"], "lang": q["lang"]}
        for profile in ("high", "balanced", "fast", "hybrid"):
            t = time.monotonic()
            if profile == "hybrid":
                df = hybrid_search(chunks, q["text"], k=10)
            else:
                df = semantic_search(chunks, q["text"], k=10,
                                     filter_spec=_lang_filter(q["lang"]),
                                     accuracy=profile)
            df._jdf.queryExecution().executedPlan()
            plan_s = time.monotonic() - t
            rows = df.collect()
            rec[profile] = {
                "s": time.monotonic() - t, "plan_s": plan_s,
                "top": [[r["url"], r["chunk_index"], r.asDict().get("score")]
                        for r in rows]}
        out["queries"].append(rec)
    # the NumPy brute-force top-k check needs every chunk vector
    out["chunks"] = [[r["url"], r["chunk_index"], r["lang"],
                      list(r["embedding"])]
                     for r in chunks.select("url", "chunk_index", "lang",
                                            "embedding").collect()]
    return out


SPANS = {
    "build": span_build, "delta": span_delta, "calib": span_calib,
    "op.triples": span_op_triples, "op.chunks": span_op_chunks,
    "reconcile": span_reconcile, "dedup.simhash": span_simhash,
    "dedup.resolution": span_resolution, "textstats.cooccur": span_cooccur,
    "textstats.domain_cap": span_domain_cap, "search": span_search,
}


def warm(spark, cores: int) -> None:
    """Start a Python worker per core on a tiny separate input."""
    spark.range(0, 64 * cores, numPartitions=cores) \
        .mapInPandas(lambda it: it, "id long").collect()


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    from code_indexer_spark.session import get_spark

    spark = get_spark(f"perfbench-{spec['workload']}",
                      master=f"local[{spec['cores']}]",
                      extra_conf=spec["conf"])
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    t_session = time.time()
    warm(spark, spec["cores"])
    res = {"session_ts": t_session, "ready_ts": time.time(),
           "app_id": sc.applicationId, "spans": {}}
    for i, name in enumerate(spec["spans"]):
        sc.setJobGroup(name, name)
        t = time.monotonic()
        out = SPANS[name](spark, spec)
        res["spans"][name] = {"s": time.monotonic() - t, **out}
        if i == 0:
            res["persisted_rdds_after"] = len(sc._jsc.getPersistentRDDs())
    spark.stop()
    with open(spec["result"], "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main(sys.argv[1])
