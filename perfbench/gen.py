"""Seeded input generators, cached on disk per (workload, seed).

A seed changes the values of the inputs but never their size or shape:
row counts are fixed per workload, so two seeds cost the engine the
same amount of work.  Each cache directory holds a MANIFEST.json that
pins every file's row count and content digest; a cache whose files no
longer match their manifest (or whose generator parameters changed) is
rebuilt, never trusted.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import random
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fixtures.make_publications_xml import render
from map_reduce_for_dbpl_dataset_spark.functions.text import STOPWORDS
from map_reduce_for_dbpl_dataset_spark.queries.llm import EMB_DIM
from map_reduce_for_dbpl_dataset_spark.sources.parquet import PUBLICATIONS_PATH

# Bump when a generator's output changes for the same seed, so old
# caches are rebuilt instead of silently reused.
GENERATOR_VERSION = 3

DBLP_RECORDS = 6000
# Drives what must not vary with the seed: record kinds, author counts
# and title lengths, document lengths and the duplicate schedule.
_SHAPE_SEED = 20231
LLM_DOCS = 1000
LLM_VECS = 1000

_KINDS = ("article", "inproceedings", "incollection", "book", "proceedings",
          "phdthesis", "mastersthesis", "www", "person")
_KIND_WEIGHTS = (48, 34, 4, 3, 4, 2, 1, 3, 1)
_MONTHS = ("January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December")
_TITLE_WORDS = (
    "adaptive distributed query engine stream window join index hash sort "
    "columnar vectorized parallel optimizer graph learning scalable approximate "
    "incremental robust secure private federated sparse dense neural "
    "transactional consistent replicated elastic serverless"
).split()


def _syllable_vocab(n: int) -> list[str]:
    """Fixed (seed-independent) vocabulary of distinct pronounceable
    words: word i spells i in base 80 with consonant-vowel syllables."""
    syl = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]
    return [syl[i // 80 % 80] + syl[i % 80] + (syl[i * 7 % 80] if i % 3 == 0 else "")
            for i in range(n)]


_VOCAB = _syllable_vocab(400)


# --- dblp_pipeline ---------------------------------------------------------
def _dblp_rows(seed: int, n: int) -> list[dict]:
    """DBLP-shaped records: Zipfian venues and authors, a share of
    authors with long consecutive-year careers (Q2), solo-only and
    never-solo authors (Q5/Q6), and the fallback rows the reference
    filters (editors-only, no authors, empty venue, unknown kind)."""
    rng, shape = random.Random(seed), random.Random(_SHAPE_SEED)
    # Authors live in communities of 20 (co-authorship stays mostly
    # inside one), so the co-author graph has many small components as
    # real DBLP does, with a few cross-community links joining some.
    n_comm = n // 60
    journals = [f"J. Data {i:02d}" for i in range(40)]
    confs = [f"CONF {i:02d}" for i in range(40)]
    venue_w = [1.0 / (i + 1) for i in range(40)]
    comm_w = [1.0 / (i + 1) ** 0.5 for i in range(n_comm)]

    def author(comm: int) -> str:
        if rng.random() < 0.003:
            comm = rng.randrange(n_comm)
        return f"Author {comm * 20 + min(int(rng.paretovariate(1.3)) - 1, 19):05d}"

    careers = {f"Career {i:04d}": (rng.randrange(1960, 2000), rng.randrange(6, 24),
                                   rng.randrange(n_comm))
               for i in range(n // 100)}
    career_names = list(careers)
    rows = []
    for rid in range(n):
        kind = shape.choices(_KINDS, weights=_KIND_WEIGHTS)[0]
        n_auth = shape.choices((0, 1, 2, 3, 4, 5, 8), weights=(2, 28, 30, 20, 10, 6, 4))[0]
        n_words = shape.randint(3, 9)
        comm = rng.choices(range(n_comm), weights=comm_w)[0]
        authors = sorted({author(comm) for _ in range(n_auth)})
        year = 1950 + min(int(rng.expovariate(0.04)), 75)
        if career_names and shape.random() < 0.25:
            name = rng.choice(career_names)
            start, length, comm = careers[name]
            year = start + rng.randrange(length)  # duplicates and gaps happen
            authors = [name] + [author(comm)] if shape.random() < 0.7 else [name]
        row = {
            "key": f"rec/{kind}/{rid:06d}", "kind": kind,
            "title": " ".join(rng.choice(_TITLE_WORDS) for _ in range(n_words)).capitalize(),
            "authors": authors, "editors": [], "year": year,
            "journal": "", "booktitle": "", "publisher": "", "school": "",
            "pages": f"{rng.randint(1, 400)}-{rng.randint(401, 800)}",
            "ee": [f"https://doi.org/10.1000/{seed}.{rid}"] if rid % 5 < 3 else [],
            "crossref": "",
            "mdate": datetime.date(2000 + rng.randrange(26), rng.randint(1, 12),
                                   rng.randint(1, 28)),
            "address": "", "volume": "", "number": "", "month": "",
            "url": [], "cdrom": "", "cite": [], "note": "", "isbn": "",
            "series": "", "chapter": "", "publnr": "",
        }
        venue = rng.choices(range(40), weights=venue_w)[0]
        if kind == "article":
            if rid % 31 == 0:
                pass  # empty venue: filtered by the reports
            elif rid % 19 == 0:
                row["booktitle"] = confs[venue]
            else:
                row["journal"] = journals[venue]
            row["volume"] = str(1 + rid % 60) if rid % 2 else ""
            row["number"] = str(1 + rid % 12) if rid % 3 == 0 else ""
        elif kind in ("inproceedings", "incollection"):
            row["booktitle"] = confs[venue]
            row["chapter"] = str(1 + rid % 20) if kind == "incollection" else ""
        elif kind in ("book", "proceedings"):
            row["publisher"] = f"Pub House {venue % 8}" if rid % 5 else ""
            row["booktitle"] = confs[venue] if not row["publisher"] else ""
            row["isbn"] = f"978-{rid % 10}-{1000 + rid % 9000:04d}-{rid % 100:02d}-{rid % 10}"
            if kind == "proceedings" and rid % 2:
                row["editors"], row["authors"] = row["authors"] or [author(comm)], []
        elif kind in ("phdthesis", "mastersthesis"):
            row["school"] = f"Univ {venue % 12}"
            row["authors"] = row["authors"][:1] or [author(comm)]
        elif kind == "www":
            row["key"] = f"homepages/{venue:02d}/{rid % 97}/{rid:06d}"
        if rid % 97 == 0:
            row["title"] = ""
        row["month"] = _MONTHS[rid % 12] if rid % 4 == 0 else ""
        row["url"] = [f"db/{kind}/v{rid % 60}/{rid:06d}.html"] if rid % 5 == 0 else []
        row["cite"] = ([f"rec/article/{(rid * 7 + k) % n:06d}" for k in range(1 + rid % 3)]
                       if rid % 29 == 0 else [])
        row["note"] = f"Curation note {rid}" if rid % 37 == 0 else ""
        rows.append(row)
    return rows


def _write_dblp(seed: int, out: str) -> None:
    rows = _dblp_rows(seed, DBLP_RECORDS)
    # Same schema as the committed fixture the DBLP oracles were written for.
    table = pa.Table.from_pylist(rows, schema=pq.read_schema(PUBLICATIONS_PATH))
    pq.write_table(table, os.path.join(out, "publications.parquet"))
    with open(os.path.join(out, "publications.xml"), "w", encoding="utf-8") as fh:
        for row in rows:
            fh.write(render(row) + "\n")


# --- llm_curation ----------------------------------------------------------
def _write_llm(seed: int, out: str) -> None:
    """Documents with planted near- and exact duplicates (so the dedup
    joins verify real pairs) and clustered embeddings with planted
    near-duplicate vectors (so SemDeDup and top-k have structure).
    Lengths and the duplicate schedule come from the fixed shape seed;
    the words, the duplicated originals and the vectors from ``seed``."""
    rng, shape = np.random.default_rng(seed), np.random.default_rng(_SHAPE_SEED)
    lengths = shape.integers(12, 120, LLM_DOCS)
    is_dup = (shape.random(LLM_DOCS) < 0.15) & (np.arange(LLM_DOCS) > 10)
    edits = shape.integers(0, 3, LLM_DOCS)
    words = np.array(list(STOPWORDS) + _VOCAB)
    zipf = 1.0 / np.arange(1, len(words) + 1) ** 0.9
    zipf /= zipf.sum()
    docs: list[list[str]] = []
    for i in range(LLM_DOCS):
        if is_dup[i]:
            toks = list(docs[int(rng.integers(0, i))])
            for _ in range(edits[i]):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words, p=zipf))
        else:
            toks = list(rng.choice(words, size=lengths[i], p=zipf))
        docs.append(toks)
    texts = [" ".join(t) for t in docs]
    langs = rng.choice(["en", "en", "en", "en", "de", "fr", "es"], size=LLM_DOCS)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(LLM_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, LLM_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))

    centers = rng.normal(0.0, 0.15, size=(10, EMB_DIM))
    labels = rng.integers(0, 10, LLM_VECS)
    vecs = centers[labels] + rng.normal(0.0, 0.06, size=(LLM_VECS, EMB_DIM))
    dup = np.flatnonzero(shape.random(LLM_VECS) < 0.1)
    dup = dup[dup > 0]
    src = np.array([int(rng.integers(0, d)) for d in dup], dtype=np.int64)
    vecs[dup] = vecs[src] + rng.normal(0.0, 0.004, size=(len(dup), EMB_DIM))
    labels[dup] = labels[src]
    vecs = np.clip(vecs, -0.99, 0.99).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(LLM_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))


GENERATORS = {"dblp_pipeline": _write_dblp, "llm_curation": _write_llm}
_PARAMS = {
    "dblp_pipeline": {"records": DBLP_RECORDS},
    "llm_curation": {"docs": LLM_DOCS, "vecs": LLM_VECS, "dim": EMB_DIM},
}


# --- manifest --------------------------------------------------------------
def file_digest(path: str) -> dict:
    """Row count and content digest of one generated file: parquet rows
    are counted from the footer, XML rows are lines; the digest is the
    sha256 of the bytes."""
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    if path.endswith(".parquet"):
        rows = pq.read_metadata(path).num_rows
    else:
        with open(path, "rb") as fh:
            rows = sum(1 for _ in fh)
    return {"rows": rows, "digest": h.hexdigest()[:32]}


def expected_identity(workload: str, seed: int) -> dict:
    return {"workload": workload, "seed": seed, "version": GENERATOR_VERSION,
            "params": _PARAMS[workload]}


def manifest_problems(directory: str, identity: dict) -> list[str]:
    """Why a cache directory cannot be trusted (empty list: it can)."""
    path = os.path.join(directory, "MANIFEST.json")
    if not os.path.exists(path):
        return ["no MANIFEST.json"]
    with open(path) as fh:
        manifest = json.load(fh)
    problems = [f"{k}: {manifest.get(k)!r} != {v!r}"
                for k, v in identity.items() if manifest.get(k) != v]
    for name, pinned in manifest.get("files", {}).items():
        fpath = os.path.join(directory, name)
        if not os.path.exists(fpath):
            problems.append(f"{name}: missing")
        elif file_digest(fpath) != pinned:
            problems.append(f"{name}: rows/digest differ from manifest")
    if not manifest.get("files"):
        problems.append("manifest pins no files")
    return problems


def ensure_inputs(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Return (directory, manifest) of the inputs for (workload, seed),
    generating them first when the cache is absent or stale."""
    directory = os.path.join(cache_root, workload, f"seed-{seed}")
    identity = expected_identity(workload, seed)
    if manifest_problems(directory, identity):
        shutil.rmtree(directory, ignore_errors=True)
        tmp = directory + ".building"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.perf_counter()
        GENERATORS[workload](seed, tmp)
        manifest = dict(identity, gen_s=time.perf_counter() - t0, files={
            name: file_digest(os.path.join(tmp, name)) for name in sorted(os.listdir(tmp))
        })
        with open(os.path.join(tmp, "MANIFEST.json"), "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
        os.replace(tmp, directory)
    with open(os.path.join(directory, "MANIFEST.json")) as fh:
        return directory, json.load(fh)
