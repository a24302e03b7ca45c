"""Seeded inputs for the three workloads, cached on disk by seed.

Every input is a pure function of (workload, seed, sizes). Tables are
written as parquet with pyarrow, before any Spark session starts, so
generation stays outside both the timed operations and ``setup_s``. A cache
entry's ``meta.json`` is written last; an entry without it is regenerated.
``meta.json`` holds the row count of every table and a SHA-256 of the
generated content, which the tests use to show that a seed reproduces its
inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from xlink_spark import schemas
from xlink_spark.fixtures.generate import generate_corpus
from xlink_spark.plans.snapshots import parquet_dir_rows

# Sizes. The linking corpora are large enough that clustering converges in
# few rounds (below ~500 documents the mention graph's connected components
# take several times longer to converge than at 1,000).
BATCH_DOCS, BATCH_ENTITIES = 1000, 120
INC_BASE_DOCS, INC_ENTITIES, INC_VERSIONS = 1000, 120, 24
INC_ADD, INC_CHANGE, INC_REMOVE = 40, 20, 10
ER_CLEAN = 2000
ER_TWIN_OFFSET = 10_000_000
# generate_corpus seeds numpy with seed * 1_000_003 + document index, which
# numpy needs below 2**32; every benchmark seed (any int, negative or huge)
# is folded into [0, SEED_RANGE) before it reaches a generator
SEED_RANGE = 4000
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

RECORDS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("seg", T.StringType(), False),
        T.StructField("nation", T.LongType(), False),
        T.StructField("ident", T.DoubleType(), False),
    ]
)


def _arrow_type(dt: T.DataType) -> pa.DataType:
    if isinstance(dt, T.StructType):
        return pa.struct([(f.name, _arrow_type(f.dataType)) for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    return {
        T.StringType: pa.string(),
        T.IntegerType: pa.int32(),
        T.LongType: pa.int64(),
        T.FloatType: pa.float32(),
        T.DoubleType: pa.float64(),
    }[type(dt)]


def _content_hash(tables: dict[str, pd.DataFrame]) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        for rec in tables[name].to_dict("records"):
            h.update(json.dumps(rec, sort_keys=True, default=repr).encode())
    return h.hexdigest()


def _write(path: str, frame: pd.DataFrame, schema: T.StructType) -> None:
    arrow_schema = pa.schema([(f.name, _arrow_type(f.dataType)) for f in schema.fields])
    table = pa.Table.from_pandas(
        frame[[f.name for f in schema.fields]], schema=arrow_schema, preserve_index=False
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


# ---- generators: (seed) -> {table: (frame, spark schema)} -----------------


def _corpus_tables(seed: int, n_docs: int, n_entities: int) -> dict:
    c = generate_corpus(seed=seed, n_docs=n_docs, n_entities=n_entities)
    return {
        "docs": (c.documents, schemas.DOCUMENTS),
        "kb": (c.kb_entities, schemas.KB_ENTITIES),
        "word_emb": (c.word_embeddings, schemas.EMBEDDINGS),
        "entity_emb": (c.entity_embeddings, schemas.EMBEDDINGS),
        "gold": (c.gold_mentions, schemas.GOLD_MENTIONS),
    }


def batch_link_tables(seed: int) -> dict:
    return _corpus_tables(seed, BATCH_DOCS, BATCH_ENTITIES)


def incremental_tables(seed: int) -> dict:
    """A base corpus ``docs_v0`` and ``INC_VERSIONS`` later versions. Every
    version adds ``INC_ADD`` unseen docs. Odd versions also remove
    ``INC_REMOVE`` docs and change ``INC_CHANGE`` (one text span appended
    after the last anchor, so the gold offsets hold), which sends the
    clustering down its full-recompute path; even versions only add, which
    takes the incremental-components path. The docs are chosen by the seed.
    ``gold`` covers every doc ever present; the check restricts it to the
    final version."""
    pool = INC_BASE_DOCS + INC_ADD * INC_VERSIONS
    t = _corpus_tables(seed, pool, INC_ENTITIES)
    all_docs = t["docs"][0].set_index("doc_id", drop=False)
    rng = np.random.RandomState(seed + 17)
    live = list(all_docs.doc_id[:INC_BASE_DOCS])
    spans = {d: list(all_docs.at[d, "spans"]) for d in all_docs.doc_id}
    nxt = INC_BASE_DOCS
    out = dict(t)
    del out["docs"]
    out["docs_v0"] = (all_docs.loc[live].reset_index(drop=True), schemas.DOCUMENTS)
    for k in range(1, INC_VERSIONS + 1):
        if k % 2:
            order = rng.permutation(len(live))
            removed = {live[i] for i in order[:INC_REMOVE]}
            for i in order[INC_REMOVE:INC_REMOVE + INC_CHANGE]:
                d = live[i]
                last = spans[d][-1]
                end = last["offset"] + len(last["text"] or "")
                spans[d] = spans[d] + [
                    dict(kind="text", text=f"rev{k} note ", media_ref=None, offset=end)
                ]
            live = [d for d in live if d not in removed]
        live += list(all_docs.doc_id[nxt:nxt + INC_ADD])
        nxt += INC_ADD
        frame = pd.DataFrame({"doc_id": live, "spans": [spans[d] for d in live]})
        out[f"docs_v{k}"] = (frame, schemas.DOCUMENTS)
    return out


def er_tables(seed: int) -> dict:
    """Clean customer-like records plus one typo twin each, in the shape of
    the program's customer linkage records: the twin's name has its last
    character bumped, its segment is prefixed ``xx`` for a third and its
    nation shifted by one for about half. ``ident`` is copied verbatim, so
    it is the one field that stays stable across a twin pair."""
    rng = np.random.RandomState(seed)
    ids = np.sort(rng.choice(ER_CLEAN * 3, size=ER_CLEAN, replace=False)) + 1
    clean = pd.DataFrame(
        {
            "id": ids.astype("int64"),
            "name": [f"Customer#{i:09d}" for i in ids],
            "seg": np.array(_SEGMENTS)[rng.randint(0, len(_SEGMENTS), size=ER_CLEAN)],
            "nation": rng.randint(0, 25, size=ER_CLEAN).astype("int64"),
            "ident": np.round(rng.uniform(-999.99, 9999.99, size=ER_CLEAN), 2),
        }
    )
    twin = clean.copy()
    twin["id"] = clean["id"] + ER_TWIN_OFFSET
    twin["name"] = [n[:-1] + chr(ord(n[-1]) + 1) for n in clean["name"]]
    bump_seg = rng.randint(0, 3, size=ER_CLEAN) == 0
    twin.loc[bump_seg, "seg"] = "xx" + twin.loc[bump_seg, "seg"]
    twin["nation"] = twin["nation"] + rng.randint(0, 2, size=ER_CLEAN)
    records = pd.concat([clean, twin], ignore_index=True)
    return {"records": (records, RECORDS)}


GENERATORS = {
    "batch_link": batch_link_tables,
    "incremental_link": incremental_tables,
    "er_chain": er_tables,
}


def sizes_key(workload: str) -> str:
    """Part of the cache key: regenerates when a size constant changes."""
    sizes = {
        "batch_link": (BATCH_DOCS, BATCH_ENTITIES),
        "incremental_link": (INC_BASE_DOCS, INC_ENTITIES, INC_VERSIONS, INC_ADD,
                             INC_CHANGE, INC_REMOVE),
        "er_chain": (ER_CLEAN,),
    }[workload]
    return "-".join(map(str, sizes))


def generator_seed(seed: int) -> int:
    """The seed the generators see: ``seed`` folded into [0, SEED_RANGE)."""
    return seed % SEED_RANGE


def ensure_inputs(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Directory holding the workload's inputs for ``seed``, and its meta
    ({"hash", "rows": {table: n}, "schemas": {table: json}})."""
    seed = generator_seed(seed)
    path = os.path.join(cache_root, f"{workload}-s{seed}-{sizes_key(workload)}")
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return path, json.load(f)
    shutil.rmtree(path, ignore_errors=True)
    tables = GENERATORS[workload](seed)
    for name, (frame, schema) in tables.items():
        _write(os.path.join(path, name), frame, schema)
    meta = {
        "hash": _content_hash({n: f for n, (f, _) in tables.items()}),
        "rows": {n: len(f) for n, (f, _) in tables.items()},
        "schemas": {n: s.json() for n, (_, s) in tables.items()},
    }
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, meta_path)
    return path, meta


def _shape(dt: T.DataType):
    """A type with nullability dropped (parquet round trips make every
    field nullable)."""
    if isinstance(dt, T.StructType):
        return tuple((f.name, _shape(f.dataType)) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return ("array", _shape(dt.elementType))
    return dt.simpleString()


def load_validated(spark, path: str, meta: dict) -> dict:
    """Read every input table and check the schema Spark sees and the row
    count in the parquet footers against the meta; raises ValueError on a
    mismatch."""
    out = {}
    for name, n in meta["rows"].items():
        table_dir = os.path.join(path, name)
        df = spark.read.parquet(table_dir)
        want = T.StructType.fromJson(json.loads(meta["schemas"][name]))
        if _shape(df.schema) != _shape(want):
            raise ValueError(f"input {name}: schema {df.schema.simpleString()} "
                             f"!= {want.simpleString()}")
        got = parquet_dir_rows(table_dir)
        if got != n:
            raise ValueError(f"input {name}: {got} rows, expected {n}")
        out[name] = df
    return out
