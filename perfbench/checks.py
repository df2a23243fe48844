"""Correctness checks, run outside every timed region. Each returns a
list of failure messages (empty when the output is correct).

- build: the triples table equals the plain-Python oracle row for row
  (precision = recall = 1.0) and the four tables hold the expected row
  counts;
- delta: the incremental result's triple_id multiset equals the full
  rebuild's;
- curate: simhash_pairs equals a brute-force all-pairs Hamming check,
  every planted duplicate pair is among them, dedup_resolution puts each
  planted cluster under one keep id, and domain_cap keeps min(cap, n)
  docs of every source;
- search: every 'high' top-k equals a NumPy brute-force cosine top-k
  over the collected chunks.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from inputs import TRIPLE_COLS

# the defaults of simhash_pairs and domain_cap, which the job calls
SIMHASH_MAX_HAMMING = 3
SIMHASH_BANDS = 4
DOMAIN_CAP = 50
SCORE_TOL = 2e-4
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _rows(path: str, cols: list[str]) -> list[tuple]:
    t = ds.dataset(path, format="parquet", partitioning="hive") \
        .to_table(columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def _oracle(inputs: str) -> list[tuple]:
    t = pq.read_table(f"{inputs}/oracle_triples.parquet")
    return list(zip(*(t.column(c).to_pylist() for c in TRIPLE_COLS)))


def build(out_dir: str, inputs: str, meta: dict, counts: dict) -> list[str]:
    fails = []
    got = Counter(_rows(f"{out_dir}/triples.parquet", TRIPLE_COLS))
    want = Counter(_oracle(inputs))
    inter = sum((got & want).values())
    p = inter / max(1, sum(got.values()))
    r = inter / max(1, sum(want.values()))
    if p != 1.0 or r != 1.0:
        fails.append(f"build triples vs oracle: precision {p:.6f} "
                     f"recall {r:.6f}")
    for table, n in meta["expected"].items():
        rows = ds.dataset(f"{out_dir}/{table}.parquet", format="parquet",
                          partitioning="hive").count_rows()
        if rows != n or counts.get(table) != n:
            fails.append(f"build {table}: {rows} rows written, "
                         f"{counts.get(table)} observed, {n} expected")
    return fails


def delta(out_dir: str, inputs: str) -> tuple[list[str], int]:
    got = sorted(r[0] for r in _rows(f"{out_dir}/delta.parquet",
                                     ["triple_id"]))
    want = sorted(t[-1] for t in _oracle(inputs))
    if got != want:
        extra = len(Counter(got) - Counter(want))
        missing = len(Counter(want) - Counter(got))
        return [f"delta triple_ids differ from full rebuild: "
                f"{extra} extra, {missing} missing"], len(got)
    return [], len(got)


def simhash_bits(texts: list[str]) -> np.ndarray:
    """(n, 64) 0/1 matrix: operators.dedup.simhash_bits_long(bits=64)
    re-derived in NumPy — bit p votes +1 per token whose md5 hex char p
    (p < 32; md5(tok || '|2') for p >= 32) has an odd code point."""
    votes: dict[str, np.ndarray] = {}
    out = np.zeros((len(texts), 64), dtype=np.int8)
    for i, text in enumerate(texts):
        acc = np.zeros(64, dtype=np.int64)
        for tok in _WS.split(text.strip(" ").lower()):
            if not tok:
                continue
            v = votes.get(tok)
            if v is None:
                hexes = (hashlib.md5(tok.encode()).hexdigest()
                         + hashlib.md5((tok + "|2").encode()).hexdigest())
                v = votes[tok] = np.array(
                    [1 if ord(c) % 2 else -1 for c in hexes], dtype=np.int64)
            acc += v
        out[i] = acc > 0
    return out


def simhash_reference(ids: list[str], texts: list[str]) -> dict:
    """Brute-force pairs within SIMHASH_MAX_HAMMING and the banded
    candidate count simhash_pairs' blocking produces."""
    bits = simhash_bits(texts).astype(np.int32)
    ham = bits @ (1 - bits).T + (1 - bits) @ bits.T
    ia, ib = np.nonzero(np.triu(ham <= SIMHASH_MAX_HAMMING, k=1))
    pairs = {(ids[a], ids[b]): int(ham[a, b]) for a, b in zip(ia, ib)}
    width = 64 // SIMHASH_BANDS
    weights = 1 << np.arange(width, dtype=np.int64)
    cand = set()
    for band in range(SIMHASH_BANDS):
        keys = bits[:, band * width:(band + 1) * width].astype(np.int64) \
            @ weights
        buckets: dict[int, list[int]] = {}
        for i, k in enumerate(keys.tolist()):
            buckets.setdefault(k, []).append(i)
        for members in buckets.values():
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    cand.add((members[x], members[y]))
    return {"pairs": pairs, "candidates": len(cand)}


def curate(spans: dict, inputs: str, meta: dict, ref: dict) -> list[str]:
    fails = []
    got = {(a, b): h for a, b, h in spans["dedup.simhash"]["pairs"]}
    if got != ref["pairs"]:
        fails.append(f"simhash_pairs: {len(got)} pairs, brute force "
                     f"{len(ref['pairs'])}")
    keep = spans["dedup.resolution"]["keep"]
    for cluster in meta["docs"]["clusters"]:
        planted = {(a, b) for i, a in enumerate(cluster)
                   for b in cluster[i + 1:]}
        planted = {(min(p), max(p)) for p in planted}
        if not planted <= got.keys():
            fails.append(f"simhash_pairs missed planted pairs of "
                         f"cluster {cluster[0]}")
        if len({keep.get(d) for d in cluster}) != 1 or None in {
                keep.get(d) for d in cluster}:
            fails.append(f"dedup_resolution split cluster {cluster[0]}")
    sources = Counter(pq.read_table(f"{inputs}/docs.parquet",
                                    columns=["source"])
                      .column("source").to_pylist())
    want = {s: min(DOMAIN_CAP, n) for s, n in sources.items()}
    if spans["textstats.domain_cap"]["kept"] != want:
        fails.append("domain_cap kept counts differ from min(cap, n)")
    return fails


def _cosine_scores(emb: np.ndarray, q: np.ndarray) -> np.ndarray:
    """operators.similarity.cosine_expr's arithmetic: float chunk
    values times the double query literal, squares of the float values
    in float, sums in double, rounded to 4 places."""
    dot = emb.astype(np.float64) @ q
    norm = np.sqrt((emb * emb).astype(np.float64).sum(axis=1))
    return np.round(dot / (norm * np.sqrt((q * q).sum())), 4)


def search(span: dict) -> list[str]:
    from code_indexer_spark.kernel.embed import embed_text

    chunks = span["chunks"]
    emb = np.array([c[3] for c in chunks], dtype=np.float32)
    langs = np.array([c[2] for c in chunks], dtype=object)
    fails = []
    for q in span["queries"]:
        qv = np.asarray(embed_text(q["text"]), dtype=np.float32) \
            .astype(np.float64)
        scores = _cosine_scores(emb, qv)
        keep = np.ones(len(chunks), bool) if q["lang"] is None \
            else langs == q["lang"]
        order = sorted(np.nonzero(keep)[0],
                       key=lambda i: (-scores[i], chunks[i][0], chunks[i][1]))
        want = [(chunks[i][0], chunks[i][1], scores[i]) for i in order[:10]]
        got = [tuple(r) for r in q["high"]["top"]]
        if [g[:2] for g in got] == [w[:2] for w in want]:
            continue
        # a last-place rounding tie may order differently; anything else
        # is a wrong answer
        exact = {(c[0], c[1]): scores[i] for i, c in enumerate(chunks)}
        ok = len(got) == len(want) and all(
            abs(g[2] - w[2]) <= SCORE_TOL
            and abs(g[2] - exact[g[:2]]) <= SCORE_TOL
            for g, w in zip(got, want))
        if not ok:
            fails.append(f"search high top-k differs for {q['text']!r}")
    return fails
