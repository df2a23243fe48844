"""Entity canonicalization: MinHash-LSH blocking + Jaccard verification +
large-star/small-star connected components — all DataFrame ops.

Semantics are pinned by kernel/canon.py (the plain-Python oracle): same
shingles, same seeded-md5 minhash bands, same threshold, same
min-id-as-canonical rule — so the Spark result equals the oracle's
union-find exactly (tests/test_canonicalize.py).

Scale notes (the whole point of this module):
- each entity is ONE row carrying its distinct-shingle array, its
  32-component signature and its 16 band keys, all built by array
  column expressions; only the band keys are exploded, so blocking cost
  scales with entities × bands, never with entities × shingles × hashes;
- blocking key is (entity_type, first_token, band_id, band_key) — bucket
  sizes stay O(near-duplicates), never O(entities); the self-join is a
  shuffle on that compound key and AQE splits any residual skew;
- the pairwise Jaccard verify runs only on blocked candidates, on the
  shingle arrays the join already carries (the reference's
  over-fetch-then-filter shape, SURVEY.md T3);
- connected components use the large-star/small-star algorithm
  (Kiveris et al., "Connected Components in MapReduce and Beyond"),
  which converges in O(log n) rounds and never materializes a
  component's full membership on one node; each round persists its
  edge set and unpersists the previous one; lineage is cut with
  localCheckpoint to keep plans bounded.

Reference analog: content-id dedup / reconcile
(docs/algorithms.md:100-143) — G8 in SURVEY.md §2.9.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def band_stage(entities: DataFrame) -> DataFrame:
    """entities(entity_id, canonical_name, entity_type) ->
    (entity_id, entity_type, tok0, sh, band_id, band_key), one row per
    entity and band; entities with a NULL name emit no rows.

    Entirely JVM-side column expressions (zero Python UDFs): the
    char-3-shingle / seeded-md5 minhash / banded-key scheme of
    kernel.canon, computed per entity row —
    sh = distinct 3-char shingles of the normalized name (a shorter
    name is its own single shingle, an empty one has none),
    sig[i] = min over sh of md5('<i>|<shingle>'), '' when sh is empty,
    band_key[b] = md5(sig[2b] || '|' || sig[2b+1]).
    Equality with the plain-Python kernel oracle is pinned by
    tests/test_canonicalize."""
    from ..functions.columns import norm_surface
    from ..kernel.canon import BANDS, NUM_HASHES, SHINGLE_K

    rows_per_band = NUM_HASHES // BANDS
    norm = F.col("_norm")
    n = F.length(norm)
    base = entities.filter(F.col("canonical_name").isNotNull()).select(
        "entity_id", "entity_type",
        norm_surface(F.col("canonical_name")).alias("_norm"))
    sh = (
        F.when(n >= SHINGLE_K, F.array_distinct(F.transform(
            F.sequence(F.lit(1), n - (SHINGLE_K - 1)),
            lambda i: F.substr(norm, i, F.lit(SHINGLE_K)))))
        .when(n > 0, F.array(norm))
        .otherwise(F.array().cast("array<string>"))
    )
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(NUM_HASHES - 1)),
        lambda i: F.coalesce(F.array_min(F.transform(
            "sh", lambda s: F.md5(F.concat_ws("|", i.cast("string"), s)))),
            F.lit("")))
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(BANDS - 1)),
        lambda b: F.md5(F.array_join(
            F.slice(F.col("_sig"), b * rows_per_band + 1, rows_per_band), "|")))
    return (
        base.select("entity_id", "entity_type",
                    F.split(norm, " ").getItem(0).alias("tok0"),
                    sh.alias("sh"))
        .withColumn("_sig", sig)
        .select("entity_id", "entity_type", "tok0", "sh",
                F.posexplode(bands).alias("band_id", "band_key"))
    )


def _blocked(entities: DataFrame) -> DataFrame:
    """Self-join of band_stage on the blocking key -> (id_a, sh_a, id_b,
    sh_b) with id_a < id_b, one row per shared band. The shuffle-hash
    hint keeps an Exchange on both sides, so Spark reuses one exchange
    and band_stage runs once (a broadcast side would recompute it)."""
    banded = band_stage(entities)
    a = banded.alias("a")
    b = banded.hint("shuffle_hash").alias("b")
    return a.join(
        b,
        on=[
            F.col("a.entity_type") == F.col("b.entity_type"),
            F.col("a.tok0") == F.col("b.tok0"),
            F.col("a.band_id") == F.col("b.band_id"),
            F.col("a.band_key") == F.col("b.band_key"),
            F.col("a.entity_id") < F.col("b.entity_id"),
        ],
    ).select(
        F.col("a.entity_id").alias("id_a"),
        F.col("a.sh").alias("sh_a"),
        F.col("b.entity_id").alias("id_b"),
        F.col("b.sh").alias("sh_b"),
    )


def candidate_pairs(entities: DataFrame) -> DataFrame:
    """Distinct blocked pairs (id_a, id_b) with id_a < id_b."""
    return _blocked(entities).select("id_a", "id_b").distinct()


def verified_edges(entities: DataFrame) -> DataFrame:
    """Blocked pairs filtered by exact shingle Jaccard >= threshold —
    array_intersect/array_union over the distinct-shingle arrays the
    join carries = exact set Jaccard; an empty∩empty pair is 1.0 like
    kernel.hashes.jaccard. Verifying before the distinct keeps the
    arrays out of the aggregate."""
    from ..kernel.canon import JACCARD_THRESHOLD

    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    uni = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(uni == 0, F.lit(1.0)).otherwise(
        inter.cast("double") / uni)
    return (
        _blocked(entities)
        .filter(jac >= JACCARD_THRESHOLD)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .distinct()
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # xor-fold: order-insensitive, overflow-free (ANSI-safe)
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def large_star_small_star(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """edges(src, dst) -> mapping(entity_id, canonical_id) for all nodes
    appearing in edges (canonical = component minimum).

    Alternates large-star and small-star rounds until the edge multiset
    is stable (checksum), then reads the star edges as the mapping.
    """
    cur = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    prev_sum = None
    for it in range(max_iter):
        # ---- large-star: connect every neighbor > u to min(N(u) ∪ {u})
        bidir = cur.union(cur.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
        mins = bidir.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        large = (
            bidir.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # ---- small-star: orient edges high->low, connect all low
        # neighbors (and u itself) to the minimum
        hi_lo = large.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        mins2 = hi_lo.groupBy("src").agg(F.min("dst").alias("m"))
        small = (
            hi_lo.join(mins2, "src")
            .select(
                F.col("dst").alias("node"), F.col("m"),
                F.col("src").alias("u"),
            )
        )
        new_edges = (
            small.select(F.col("node").alias("src"), F.col("m").alias("dst"))
            .union(small.select(F.col("u").alias("src"), F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur_sum = _checksum(new_edges)
        cur = new_edges
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    # converged star graph: src -> component min (dst)
    return cur.select(
        F.col("src").alias("entity_id"), F.col("dst").alias("canonical_id")
    )


# Below this edge count the component structure fits trivially on the
# driver and the O(log n)-round distributed loop is pure fixed overhead
# (several sequential tiny jobs per round). Adaptive algorithm choice,
# same spirit as AQE's runtime re-planning: tiny graph -> driver
# union-find; big graph -> large-star/small-star. Both produce the
# identical mapping (component minimum), proven equal by
# tests/test_canonicalize.py.
SMALL_GRAPH_EDGES = 2_000_000


def connected_components(edges: DataFrame,
                         threshold: int = SMALL_GRAPH_EDGES) -> DataFrame:
    """edges(src, dst) -> (entity_id, canonical_id), canonical =
    component min. Dispatches on edge count; at 10^9-entity scale the
    distributed star loop runs, at bench scale the driver union-find
    collapses the per-round scheduler round trips into one collect."""
    edges = edges.select("src", "dst").distinct()
    edges.persist()  # one materialization serves both count and collect
    try:
        n = edges.count()
        if n > threshold:
            return large_star_small_star(edges)
        return _driver_union_find(edges)
    finally:
        edges.unpersist()


def _driver_union_find(edges: DataFrame) -> DataFrame:
    parent: dict[str, str] = {}

    def find(x: str) -> str:  # path-halving union-find
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    rows = edges.collect()
    for row in rows:
        a, b = find(row["src"]), find(row["dst"])
        if a != b:
            # min-id root keeps the canonical-id rule exact
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    nodes = sorted({r["src"] for r in rows} | {r["dst"] for r in rows})
    # through Arrow (a pandas frame), not a Python list: a list becomes a
    # PythonRDD whose rows are unpickled by Python workers in a stage of
    # its own when the mapping is joined (~1.5 s of wall time for 15 ms
    # of CPU in a fresh session); Arrow batches are read JVM-side.
    # Explicit schema: a clean input (no verified duplicate pairs)
    # legitimately yields zero edges, and nothing can be inferred from it
    return edges.sparkSession.createDataFrame(
        pd.DataFrame({"entity_id": nodes,
                      "canonical_id": [find(x) for x in nodes]}),
        "entity_id string, canonical_id string")


def canonical_mapping(entities: DataFrame) -> DataFrame:
    """entities -> (entity_id, canonical_id) for ALL entities
    (identity rows included for singletons)."""
    mapping = connected_components(verified_edges(entities))
    return (
        entities.select("entity_id")
        .join(mapping, "entity_id", "left")
        .select(
            "entity_id",
            F.coalesce("canonical_id", "entity_id").alias("canonical_id"),
        )
    )


def apply_canonical(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj to canonical ids (two broadcast joins — the
    mapping is O(#entities), tiny next to triples)."""
    m = F.broadcast(mapping)
    return (
        triples.join(
            m.withColumnRenamed("entity_id", "subj")
             .withColumnRenamed("canonical_id", "subj_canon"),
            "subj", "left",
        )
        .join(
            m.withColumnRenamed("entity_id", "obj")
             .withColumnRenamed("canonical_id", "obj_canon"),
            "obj", "left",
        )
        .select(
            F.coalesce("subj_canon", "subj").alias("subj"),
            "pred",
            F.coalesce("obj_canon", "obj").alias("obj"),
            "src_url", "rule_id", "confidence",
        )
        .withColumn(
            "triple_id",
            F.sha2(F.concat_ws("|", "subj", "pred", "obj", "src_url"), 256),
        )
    )
