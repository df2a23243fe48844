"""Single-thread in-process timings of the plain-Python kernels that the
Arrow UDF stages run, on a fixed page sample of the corpus.

Each figure is the median of REPEATS passes over the sample, so it is a
per-item cost without Spark, Arrow transfer or worker start-up. The
kernel.nlp.match_rules figure covers sentence split plus rule match;
kernel.nlp.triples adds mention linking and embedding rerank on top.
"""

from __future__ import annotations

import statistics
import time

import pyarrow.parquet as pq

SAMPLE_PAGES = 200
REPEATS = 3


def _median_s(fn, repeats: int = REPEATS) -> float:
    out = []
    for _ in range(repeats):
        t = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t)
    return statistics.median(out)


def probe(kg_dir: str) -> dict[str, float]:
    from code_indexer_spark.kernel.canon import (candidate_pairs,
                                                 canonical_map,
                                                 verified_edges)
    from code_indexer_spark.kernel.chunker import chunk_text
    from code_indexer_spark.kernel.embed import embed_text
    from code_indexer_spark.kernel.extract import extract_text
    from code_indexer_spark.kernel.nlp import (AliasIndex,
                                               extract_triples_from_text,
                                               match_rules, split_sentences)

    pages = pq.read_table(f"{kg_dir}/pages.parquet",
                          columns=["html", "text"]).slice(0, SAMPLE_PAGES)
    htmls = pages.column("html").to_pylist()
    texts = pages.column("text").to_pylist()
    rows = [(a["alias"], a["entity_id"], a["entity_type"], a["prior"],
             a["canonical_name"])
            for a in pq.read_table(f"{kg_dir}/alias_dict.parquet").to_pylist()]
    ents = [(e["entity_id"], e["canonical_name"], e["entity_type"])
            for e in pq.read_table(f"{kg_dir}/entities.parquet").to_pylist()]
    idx = AliasIndex(rows)
    chunks = [c["text"] for t in texts for c in chunk_text(t, 1000)]
    n = len(htmls)
    pairs = candidate_pairs(ents)

    def rules():
        for t in texts:
            for s in split_sentences(t):
                match_rules(s)

    us = 1e6
    return {
        "kernel.extract.us_per_page":
            _median_s(lambda: [extract_text(h) for h in htmls]) * us / n,
        "kernel.nlp.triples_us_per_page": _median_s(
            lambda: [extract_triples_from_text(t, idx) for t in texts])
            * us / n,
        "kernel.nlp.match_rules_us_per_page": _median_s(rules) * us / n,
        "kernel.nlp.alias_index_ms": _median_s(lambda: AliasIndex(rows))
            * 1e3,
        "kernel.chunker.us_per_page":
            _median_s(lambda: [chunk_text(t, 1000) for t in texts]) * us / n,
        "kernel.embed.us_per_chunk":
            _median_s(lambda: [embed_text(c) for c in chunks])
            * us / len(chunks),
        "kernel.canon.canonical_map_s":
            _median_s(lambda: canonical_map(ents), repeats=1),
        "operators.canonicalize.candidate_pairs": float(len(pairs)),
        "operators.canonicalize.verified_edges":
            float(len(verified_edges(ents, pairs))),
    }
