"""Seeded benchmark inputs, generated once per seed and cached on disk.

Everything a run reads comes from ``--seed``:

- ``kg/``: the pages corpus plus the shared alias/entity/rule tables,
  written by ``code_indexer_spark.fixtures.gen.generate``;
- ``oracle_triples.parquet``: the canonical triples of the corpus from the
  plain-Python kernels (AliasIndex + extract_triples_from_text +
  canonical_map), the reference every triples output is checked against;
- ``delta/``: the indexed ``(url, h)`` snapshot and the prior triples table
  that ``run_incremental`` reconciles, with planted changed, added and
  deleted urls;
- ``docs.parquet``: the ``docs(doc_id, text, source)`` table of the curate
  layer probes, with planted near-duplicate clusters of skewed sizes and
  one mega-domain;
- ``meta.json``: sizes, expected counts and the planted facts the checks
  use.

The cache lives under ``.perfbench_cache/`` in the working directory; a
directory is renamed into place only when complete.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

N_PAGES = 2000
N_DOCS = 2000
CHANGED_FRAC = 0.05
ADDED_FRAC = 0.02
DELETED_FRAC = 0.01
MEGA_DOMAIN_FRAC = 0.3
BIG_CLUSTER = 200
SMALL_CLUSTERS = 20
N_QUERIES = 6

TRIPLE_COLS = ["src_url", "subj", "pred", "obj", "rule_id", "confidence",
               "triple_id"]


def cache_root() -> str:
    return os.path.join(os.getcwd(), ".perfbench_cache")


def triple_id(subj: str, pred: str, obj: str, url: str) -> str:
    """sha2(concat_ws('|', subj, pred, obj, src_url), 256), as the
    pipeline keys triples."""
    return hashlib.sha256(f"{subj}|{pred}|{obj}|{url}".encode()).hexdigest()


def _triples_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in TRIPLE_COLS]
    schema = pa.schema([(c, pa.float64() if c == "confidence"
                         else pa.string()) for c in TRIPLE_COLS])
    return pa.table({c: list(v) for c, v in zip(TRIPLE_COLS, cols)},
                    schema=schema)


def oracle_triples(kg_dir: str) -> list[tuple]:
    """Canonical triples of every page, in TRIPLE_COLS order."""
    from code_indexer_spark.kernel.canon import canonical_map
    from code_indexer_spark.kernel.nlp import (AliasIndex,
                                               extract_triples_from_text)

    pages = pq.read_table(f"{kg_dir}/pages.parquet",
                          columns=["url", "text"]).to_pylist()
    aliases = pq.read_table(f"{kg_dir}/alias_dict.parquet").to_pylist()
    ents = pq.read_table(f"{kg_dir}/entities.parquet").to_pylist()
    idx = AliasIndex([(a["alias"], a["entity_id"], a["entity_type"],
                       a["prior"], a["canonical_name"]) for a in aliases])
    cmap = canonical_map([(e["entity_id"], e["canonical_name"],
                           e["entity_type"]) for e in ents])
    out = []
    for p in pages:
        for s, pred, o, rid, conf in extract_triples_from_text(p["text"], idx):
            s, o = cmap.get(s, s), cmap.get(o, o)
            out.append((p["url"], s, pred, o, rid, conf,
                        triple_id(s, pred, o, p["url"])))
    return out


def _expected_counts(kg_dir: str, triples: list[tuple]) -> dict:
    """Row counts run_pipeline must write for this corpus."""
    from code_indexer_spark.kernel.canon import canonical_map
    from code_indexer_spark.kernel.chunker import chunk_text

    ents = pq.read_table(f"{kg_dir}/entities.parquet").to_pylist()
    cmap = canonical_map([(e["entity_id"], e["canonical_name"],
                           e["entity_type"]) for e in ents])
    texts = pq.read_table(f"{kg_dir}/pages.parquet",
                          columns=["text"]).column("text").to_pylist()
    return {
        "triples": len(triples),
        "nodes": len({cmap.get(e["entity_id"], e["entity_id"])
                      for e in ents}),
        "edges": len({(t[1], t[2], t[3]) for t in triples}),
        "chunks": sum(len(chunk_text(t, 1000)) for t in texts),
    }


def _delta_inputs(out_dir: str, kg_dir: str, triples: list[tuple],
                  seed: int) -> dict:
    """Indexed snapshot + prior triples for run_incremental.

    A seeded draw picks exactly ADDED_FRAC of the corpus urls as 'added'
    (absent from the snapshot and the prior) and CHANGED_FRAC as
    'changed' (snapshot hash differs; the prior holds only planted stale
    rows); the rest are 'same' (snapshot hash matches; the prior holds
    their current triples). Planted fake urls are 'deleted':
    in the snapshot and the prior, absent from the corpus. The correct
    incremental result is therefore exactly the full-rebuild triples."""
    rng = random.Random(seed * 7919 + 1)
    pages = pq.read_table(f"{kg_dir}/pages.parquet",
                          columns=["url", "html"]).to_pylist()
    by_url: dict[str, list[tuple]] = {}
    for t in triples:
        by_url.setdefault(t[0], []).append(t)

    def stale(url: str) -> tuple:
        s, o = f"STALE{rng.randrange(10**6):06d}", "STALE000000"
        return (url, s, "stale_of", o, "R999", 0.5,
                triple_id(s, "stale_of", o, url))

    n_added = round(ADDED_FRAC * len(pages))
    n_changed = round(CHANGED_FRAC * len(pages))
    order = rng.sample(range(len(pages)), len(pages))
    kind = dict.fromkeys(order[:n_added], "added")
    kind.update(dict.fromkeys(order[n_added:n_added + n_changed], "changed"))
    index, prior = [], []
    status = {"same": 0, "changed": 0, "added": 0, "deleted": 0}
    for i, p in enumerate(pages):
        k = kind.get(i, "same")
        status[k] += 1
        if k == "added":
            continue
        if k == "changed":
            index.append((p["url"], hashlib.md5(b"old" + p["html"])
                          .hexdigest()))
            prior.append(stale(p["url"]))
            continue
        index.append((p["url"], hashlib.md5(p["html"]).hexdigest()))
        prior.extend(by_url.get(p["url"], []))
    for i in range(max(1, round(DELETED_FRAC * len(pages)))):
        url = f"https://gone{seed}.example/p/{i}"
        status["deleted"] += 1
        index.append((url, hashlib.md5(url.encode()).hexdigest()))
        prior.extend(stale(url) for _ in range(1 + rng.randrange(3)))
    os.makedirs(out_dir)
    pq.write_table(pa.table({"url": [u for u, _ in index],
                             "h": [h for _, h in index]}),
                   f"{out_dir}/indexed.parquet")
    pq.write_table(_triples_table(prior), f"{out_dir}/prior.parquet")
    return status


def _normalization_variant(rng: random.Random, text: str) -> str:
    """Same whitespace tokens after lower(trim()), different bytes: the
    planted duplicate has Hamming distance 0 to its base under SimHash
    and identical MinHash bands, so every planted pair must be found."""
    toks = text.split()
    out = [t.upper() if rng.random() < 0.3 else t for t in toks]
    return ("  " if rng.random() < 0.5 else "") + "   ".join(out) + "\n"


def _docs(path: str, kg_dir: str, seed: int) -> dict:
    """docs(doc_id, text, source): corpus texts, a mega-domain holding
    MEGA_DOMAIN_FRAC of the docs, and planted duplicate clusters — one
    of BIG_CLUSTER members and SMALL_CLUSTERS of 2-4 members."""
    rng = random.Random(seed * 104729 + 2)
    texts = pq.read_table(f"{kg_dir}/pages.parquet",
                          columns=["url", "text"]).to_pylist()
    n_plain = N_DOCS - BIG_CLUSTER - 3 * SMALL_CLUSTERS
    base = [t for t in texts if len(t["text"].split()) >= 20][:n_plain]
    rows = [(t["text"], t["url"].split("/")[2]) for t in base]
    clusters = []
    sizes = [BIG_CLUSTER] + [rng.randint(2, 4) for _ in range(SMALL_CLUSTERS)]
    for size in sizes:
        src = rng.randrange(len(base))
        members = [src] + list(range(len(rows), len(rows) + size - 1))
        rows.extend((_normalization_variant(rng, base[src]["text"]),
                     f"dup{rng.randrange(50)}.example")
                    for _ in range(size - 1))
        clusters.append(members)
    ids = [f"d{i:06d}" for i in range(len(rows))]
    sources = [("mega.example" if rng.random() < MEGA_DOMAIN_FRAC else s)
               for _, s in rows]
    pq.write_table(pa.table({"doc_id": ids, "text": [t for t, _ in rows],
                             "source": sources}), path)
    return {"n_docs": len(rows),
            "clusters": [[ids[m] for m in c] for c in clusters],
            "mega_domain_docs": sources.count("mega.example")}


def _queries(kg_dir: str, seed: int) -> list[dict]:
    """Seeded search requests: alias names and filler phrases, over the
    high/balanced/fast profiles (some with a lang filter) and hybrid."""
    from code_indexer_spark.fixtures.gen import FILLER_VOCAB

    rng = random.Random(seed * 31337 + 3)
    names = pq.read_table(f"{kg_dir}/alias_dict.parquet",
                          columns=["alias"]).column("alias").to_pylist()
    out = []
    for i in range(N_QUERIES):
        if i % 2 == 0:
            text = rng.choice(names)
        else:
            text = " ".join(rng.choice(FILLER_VOCAB)
                            for _ in range(rng.randint(3, 8)))
        out.append({"text": text, "lang": rng.choice([None, "de", "en"])})
    return out


def ensure(seed: int) -> str:
    """Generate (once) and return the input directory for ``seed``."""
    from code_indexer_spark.fixtures.gen import generate

    root = os.path.join(cache_root(), f"seed-{seed}")
    if os.path.isfile(os.path.join(root, "meta.json")):
        return root
    tmp = f"{root}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    kg_dir = os.path.join(tmp, "kg")
    t = time.monotonic()
    generate(kg_dir, N_PAGES, seed=seed)
    gen_s = time.monotonic() - t
    triples = oracle_triples(kg_dir)
    pq.write_table(_triples_table(triples),
                   os.path.join(tmp, "oracle_triples.parquet"))
    meta = {
        "seed": seed,
        "n_pages": N_PAGES,
        "gen_s": gen_s,
        "expected": _expected_counts(kg_dir, triples),
        "delta_status": _delta_inputs(os.path.join(tmp, "delta"), kg_dir,
                                      triples, seed),
        "docs": _docs(os.path.join(tmp, "docs.parquet"), kg_dir, seed),
        "queries": _queries(kg_dir, seed),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)
    return root
