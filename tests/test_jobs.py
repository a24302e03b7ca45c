"""The spark-submit job entrypoints, driven in-session via their importable
bodies (the CLI wrapper only parses args and prints the same metrics)."""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

_JOBS_DIR = str(Path(__file__).resolve().parent.parent / "jobs")


def _curation_args(**kw) -> argparse.Namespace:
    base = dict(
        documents=None, output=None, format="parquet", eval_docs=None,
        min_quality=0.2, max_dup_line_frac=None, max_top_bigram_frac=None,
        neardup_threshold=0.8, contamination_ngram=13, redact=False,
        snapshots=None, master=None,
    )
    base.update(kw)
    return argparse.Namespace(**base)


def test_run_curation_job_jsonl_with_snapshots(spark, tmp_path):
    """The curation job end-to-end: JSONL input with a malformed line
    (quarantined), exact dup dropped, junk dropped, kept docs committed
    through the SnapshotStore with audit counts in the manifest, per-doc
    fates written, metrics consistent."""
    sys.path.insert(0, _JOBS_DIR)
    from run_curation import run_curation_job

    from xlink_spark.plans.snapshots import SnapshotStore

    body = "the quick brown fox jumps over the lazy dog and is happy in the sun today"
    src = tmp_path / "corpus.jsonl"
    src.write_text(
        f'{{"doc_id": "a", "text": "{body}"}}\n'
        f'{{"doc_id": "b", "text": "{body}"}}\n'      # exact dup of a
        '{"doc_id": "c", "text": "!!! ??? ,,,"}\n'     # junk
        'not json at all\n'                            # quarantined
        '{"doc_id": "d", "text": "a completely different ordinary sentence with the usual common words"}\n'
    )
    args = _curation_args(
        documents=str(src), output=str(tmp_path / "out"), format="jsonl",
        snapshots=str(tmp_path / "snap"),
    )
    m = run_curation_job(spark, args)
    assert m["n_quarantined"] == 1
    assert m["n_in"] == 5 and m["n_kept"] == 2 and m["n_dropped"] == 2
    assert m["drops_by_stage"] == {"exact_dup": 1, "low_quality": 1, "near_dup": 0}

    store = SnapshotStore(str(tmp_path / "snap"))
    kept = {r["doc_id"] for r in store.read_table(spark, "curated_docs").collect()}
    assert kept == {"a", "d"}
    # audit counts landed in the committed manifest (resume metadata)
    man = store.manifest("curated_docs")
    assert man["metrics"]["exact_dup"] == 1 and man["rows"] == 2
    fates = {
        r["doc_id"]: r["stage"]
        for r in store.read_table(spark, "curation_drops").collect()
    }
    assert fates == {"b": "exact_dup", "c": "low_quality"}


def test_run_curation_job_parquet_redact(spark, tmp_path):
    """Parquet input + --redact: survivors' text is scrubbed in place."""
    sys.path.insert(0, _JOBS_DIR)
    from run_curation import run_curation_job

    docs = spark.createDataFrame(
        [("p1", "write to bob@example.org for the usual and common details today")],
        "doc_id string, text string",
    )
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    args = _curation_args(
        documents=src, output=str(tmp_path / "out"), min_quality=0.0, redact=True
    )
    m = run_curation_job(spark, args)
    assert m["n_kept"] == 1
    kept = spark.read.parquet(str(tmp_path / "out" / "kept")).collect()[0]
    assert "<EMAIL>" in kept["text"] and kept["n_emails"] == 1


def test_parquet_dir_rows_matches_written_data(spark, tmp_path):
    """parquet_dir_rows counts a written directory from file footers
    driver-side — the count a writer uses instead of re-scanning its own
    output — and it launches ZERO Spark jobs."""
    from xlink_spark.plans.snapshots import parquet_dir_rows

    p = str(tmp_path / "t.parquet")
    spark.range(1234).repartition(7).write.parquet(p)
    sc = spark.sparkContext
    before = len(sc.statusTracker().getJobIdsForGroup(None))
    assert parquet_dir_rows(p) == 1234
    assert len(sc.statusTracker().getJobIdsForGroup(None)) == before


def test_run_incremental_job_links_only_the_delta(spark, tmp_path, sdfs):
    """The incremental entrypoint end-to-end: batch 0 bootstraps (all docs
    'added'), batch 1 sees a mutated corpus and links ONLY added/changed
    docs, retractions carry removed+changed ids, and a re-run of batch 1 is
    a resumed no-op."""
    sys.path.insert(0, _JOBS_DIR)
    from run_incremental import run_incremental_job

    from pyspark.sql import functions as F

    from xlink_spark.plans.pipeline import build_dictionary
    from xlink_spark.plans.snapshots import SnapshotStore

    docs, kb, wemb, eemb, gold = sdfs
    snap = str(tmp_path / "snap")
    store = SnapshotStore(snap)
    build_dictionary(docs, kb, eemb, store=store)

    v1 = str(tmp_path / "v1")
    docs.write.parquet(v1)
    wpath, epath = str(tmp_path / "wemb"), str(tmp_path / "eemb")
    wemb.write.parquet(wpath)
    eemb.write.parquet(epath)

    def _args(documents, batch_id=None):
        return argparse.Namespace(
            documents=documents, snapshots=snap, word_emb=wpath,
            entity_emb=epath, batch_id=batch_id, master=None,
        )

    m0 = run_incremental_job(spark, _args(v1))
    n_docs = docs.count()
    assert m0["batch_id"] == 0 and not m0["resumed"]
    assert m0["n_added"] == n_docs and m0["n_changed"] == 0 == m0["n_removed"]

    # v2: drop 2 docs, mutate 1 (append a text span), keep the rest
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    removed, changed = set(ids[:2]), ids[2]
    extra = F.array(
        F.struct(
            F.lit("text").alias("kind"), F.lit(" tail").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).alias("offset"),
        )
    )
    v2df = docs.filter(~F.col("doc_id").isin(*removed)).withColumn(
        "spans",
        F.when(F.col("doc_id") == changed, F.concat("spans", extra)).otherwise(
            F.col("spans")
        ),
    )
    v2 = str(tmp_path / "v2")
    v2df.write.parquet(v2)

    m1 = run_incremental_job(spark, _args(v2))
    assert m1["batch_id"] == 1 and not m1["resumed"]
    assert m1["n_added"] == 0
    assert m1["n_changed"] == 1 and m1["n_removed"] == 2
    assert m1["n_retractions"] == 3

    # batch 1's links cover ONLY the changed doc
    linked_ids = {
        r["doc_id"]
        for r in store.read_iteration(spark, "links", 1).select("doc_id").collect()
    }
    assert linked_ids <= {changed}
    retr = {
        (r["doc_id"], r["change"])
        for r in store.read_iteration(spark, "retractions", 1).collect()
    }
    assert retr == {(changed, "changed")} | {(d, "removed") for d in removed}

    # idempotent re-run
    m1b = run_incremental_job(spark, _args(v2, batch_id=1))
    assert m1b["resumed"] and m1b["n_linked_rows"] == m1["n_linked_rows"]

    # steady-state maintenance: --fold-after folds the trail after the batch
    a2 = _args(v2)
    a2.fold_after = 1
    m2 = run_incremental_job(spark, a2)
    assert not m2["resumed"] and m2["folded"]
    store2 = SnapshotStore(snap)
    assert store2.iterations("links") == [2]

    from xlink_spark.plans.incremental import current_links

    cur_ids = {r["doc_id"] for r in current_links(spark, store2).collect()}
    # removed docs are gone from the current view; changed doc still linked
    assert cur_ids.isdisjoint(removed)
    assert changed in cur_ids

    # --cluster: clusters commit per batch with ids reconciled against the
    # previous snapshot — any batch-(N+1) cluster whose entity set is
    # contained in a batch-N cluster must CARRY that cluster's id
    a3 = _args(v2)
    a3.cluster = True
    m3 = run_incremental_job(spark, a3)
    assert m3["n_cluster_rows"] and m3["n_cluster_rows"] > 0
    b3 = m3["batch_id"]
    first = {
        r["entity_id"]: r["cluster_id"]
        for r in store2.read_iteration(spark, "clusters", b3).collect()
    }

    a4 = _args(v2)
    a4.cluster = True
    m4 = run_incremental_job(spark, a4)
    second = {
        r["entity_id"]: r["cluster_id"]
        for r in store2.read_iteration(spark, "clusters", m4["batch_id"]).collect()
    }
    by_cluster_first: dict = {}
    for e, c in first.items():
        by_cluster_first.setdefault(c, set()).add(e)
    by_cluster_second: dict = {}
    for e, c in second.items():
        by_cluster_second.setdefault(c, set()).add(e)
    for cid, ents in by_cluster_second.items():
        containers = [c for c, es in by_cluster_first.items() if ents <= es]
        if containers:
            assert cid in containers, (cid, containers)


def test_run_incremental_cluster_additive_fast_path(spark, tmp_path, sdfs, monkeypatch):
    """--cluster takes the contracted-delta fast path on a provably additive
    batch (incremental_components called) and falls back to the full
    recompute when the batch carries retractions — and BOTH paths produce
    the exact partition a from-scratch cluster_links would."""
    sys.path.insert(0, _JOBS_DIR)
    import run_incremental as RI

    from pyspark.sql import functions as F

    from xlink_spark.operators import cluster as CL
    from xlink_spark.plans.incremental import current_links
    from xlink_spark.plans.pipeline import build_dictionary
    from xlink_spark.plans.snapshots import SnapshotStore

    docs, kb, wemb, eemb, gold = sdfs
    snap = str(tmp_path / "snap")
    store = SnapshotStore(snap)
    build_dictionary(docs, kb, eemb, store=store)
    wpath, epath = str(tmp_path / "wemb"), str(tmp_path / "eemb")
    wemb.write.parquet(wpath)
    eemb.write.parquet(epath)

    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    held_out = set(ids[-2:])

    def _write(df, name):
        p = str(tmp_path / name)
        df.write.parquet(p)
        return p

    def _args(documents):
        a = argparse.Namespace(
            documents=documents, snapshots=snap, word_emb=wpath,
            entity_emb=epath, batch_id=None, master=None,
        )
        a.cluster = True
        return a

    calls = {"inc": 0}
    real_inc = CL.incremental_components

    def spy(prev, new_edges):
        calls["inc"] += 1
        return real_inc(prev, new_edges)

    monkeypatch.setattr(CL, "incremental_components", spy)

    def _partition(batch):
        groups: dict = {}
        for r in store.read_iteration(spark, "clusters", batch).collect():
            groups.setdefault(r["cluster_id"], set()).add(r["entity_id"])
        return {frozenset(s) for s in groups.values()}

    def _full_truth():
        groups: dict = {}
        for r in CL.cluster_links(current_links(spark, store)).collect():
            groups.setdefault(r["cluster_id"], set()).add(r["entity_id"])
        return {frozenset(s) for s in groups.values()}

    # batch 0: bootstrap (no cc_state yet) -> full path
    v1 = _write(docs.filter(~F.col("doc_id").isin(*held_out)), "v1")
    m0 = RI.run_incremental_job(spark, _args(v1))
    assert calls["inc"] == 0 and m0["n_cluster_rows"] > 0
    assert store.iterations("cc_state") == [0]

    # batch 1: purely additive -> contracted-delta fast path
    v2 = _write(docs, "v2")
    m1 = RI.run_incremental_job(spark, _args(v2))
    assert calls["inc"] == 1, "additive batch must use incremental_components"
    assert store.iterations("cc_state") == [0, 1]
    assert _partition(m1["batch_id"]) == _full_truth()

    # batch 2: one doc removed -> retraction rows > 0 -> full recompute
    v3 = _write(docs.filter(F.col("doc_id") != ids[0]), "v3")
    m2 = RI.run_incremental_job(spark, _args(v3))
    assert calls["inc"] == 1, "a batch with retractions must NOT go incremental"
    assert _partition(m2["batch_id"]) == _full_truth()


def test_run_er_job_em_and_supervised(spark, tmp_path):
    """The record-ER entrypoint end to end, both estimator modes: planted
    near-duplicate customers must cluster with their twins and produce one
    golden record per cluster; the unsupervised EM run must agree with the
    supervised run on the planted structure."""
    import argparse

    from pyspark.sql import functions as F

    sys.path.insert(0, _JOBS_DIR)
    from run_er import run_er_job

    rows = []
    for i in range(1, 41):
        name = f"Rec#{i:04d}"
        rows.append((i, name, "gold" if i % 2 else "silver", i % 5))
        # dirty twin: last char bumped, same segment/nation
        rows.append((i + 1000, name[:-1] + chr(ord(name[-1]) + 1),
                     "gold" if i % 2 else "silver", i % 5))
    recs = spark.createDataFrame(
        rows, "id long, name string, segment string, nation long"
    )
    src = str(tmp_path / "records")
    recs.write.parquet(src)

    def run(label_expr, outdir, jw_fields=None):
        args = argparse.Namespace(
            records=src, output=str(tmp_path / outdir), id_col="id",
            key_expr="substring(name, 1, 6)", order_cols="name",
            fields="name,segment,nation", jw_fields=jw_fields,
            label_expr=label_expr,
            window=4, threshold_micro=0, em_iterations=5,
            rules="name:longest,segment:mode,nation:min",
            rank_strategy="keys", snapshots=None,
        )
        return run_er_job(spark, args), args

    m_sup, a_sup = run("pmod(id_a, 1000) = pmod(id_b, 1000)", "sup")
    m_em, a_em = run(None, "em")
    assert m_sup["mode"] == "supervised" and m_em["mode"] == "em"
    assert m_sup["n_records"] == m_em["n_records"] == 80
    # every twin pair must land in one cluster in both modes
    for m, a in ((m_sup, a_sup), (m_em, a_em)):
        asg = {
            r["id"]: r["cluster"]
            for r in spark.read.parquet(f"{a.output}/clusters").collect()
        }
        paired = sum(1 for i in range(1, 41) if asg[i] == asg[i + 1000])
        assert paired == 40, (m["mode"], paired)
        golden = spark.read.parquet(f"{a.output}/golden")
        assert golden.count() == m["n_clusters"] <= 40
        g = golden.filter(F.col("cluster") == asg[1]).collect()[0]
        # longest-name rule keeps the 9-char clean name or equal-length twin
        assert g["name"].startswith("Rec#000")
        assert g["n_records"] >= 2


def test_run_er_job_jw_comparator_makes_name_predictive(spark, tmp_path):
    """With --jw-fields the name field compares by Jaro-Winkler instead of
    exact equality: bumped-typo twins now AGREE on name, so the supervised
    weights flip the name field from anti-predictive to predictive — and
    every twin still clusters."""
    import argparse

    sys.path.insert(0, _JOBS_DIR)
    from run_er import run_er_job

    # names must be DISSIMILAR across records (random hex) so that only
    # the planted twins clear the JW threshold — with sequential names
    # every window neighbor agrees and the field carries no signal (that
    # degenerate case is exactly what the e2e above shows with equality)
    import hashlib

    rows = []
    for i in range(1, 31):
        name = hashlib.md5(str(i).encode()).hexdigest()[:12]
        rows.append((i, name, "gold" if i % 2 else "silver", i % 5))
        rows.append((i + 1000, name[:-1] + chr(ord(name[-1]) + 1),
                     "gold" if i % 2 else "silver", i % 5))
    recs = spark.createDataFrame(
        rows, "id long, name string, segment string, nation long"
    )
    src2 = str(tmp_path / "records_jw")
    recs.write.parquet(src2)
    args = argparse.Namespace(
        records=src2, output=str(tmp_path / "jw"), id_col="id",
        key_expr="substring(name, 1, 2)", order_cols="name",
        fields="name,segment,nation", jw_fields="name:880000",
        label_expr="pmod(id_a, 1000) = pmod(id_b, 1000)",
        window=4, threshold_micro=0, em_iterations=5,
        rules="name:longest,segment:mode,nation:min",
        rank_strategy="keys", snapshots=None,
    )
    m = run_er_job(spark, args)
    wa, wd = m["weights_micro"]["agree_name"]
    assert wa > 0 > wd  # JW agreement on twins makes the name predictive
    asg = {
        r["id"]: r["cluster"]
        for r in spark.read.parquet(f"{args.output}/clusters").collect()
    }
    paired = sum(1 for i in range(1, 31) if asg[i] == asg[i + 1000])
    assert paired == 30
    import pytest as _pt

    bad = argparse.Namespace(**{**vars(args), "jw_fields": "name=880000"})
    with _pt.raises(ValueError):
        run_er_job(spark, bad)


def test_run_er_job_blocking_strategies(spark, tmp_path):
    """--blocking phonetic|suffix swap candidate generation under the same
    FS → CC → survivorship chain: suffix blocking over reverse(name)
    catches every planted last-char-bump twin; phonetic blocking runs the
    Soundex path end to end (plumbing — operator semantics are pinned in
    test_linkage)."""
    import argparse

    sys.path.insert(0, _JOBS_DIR)
    from run_er import run_er_job

    rows = []
    for i in range(1, 31):
        name = f"Rec#{i:04d}"
        rows.append((i, name, "gold" if i % 2 else "silver", i % 5))
        rows.append((i + 1000, name[:-1] + chr(ord(name[-1]) + 1),
                     "gold" if i % 2 else "silver", i % 5))
    src = str(tmp_path / "records_blk")
    spark.createDataFrame(
        rows, "id long, name string, segment string, nation long"
    ).write.parquet(src)

    def run(blocking, key_expr, outdir, **kw):
        args = argparse.Namespace(
            records=src, output=str(tmp_path / outdir), id_col="id",
            key_expr=key_expr, order_cols="name",
            fields="name,segment,nation", jw_fields=None,
            label_expr="pmod(id_a, 1000) = pmod(id_b, 1000)",
            window=4, threshold_micro=0, em_iterations=5,
            rules="name:longest", rank_strategy="keys", snapshots=None,
            blocking=blocking, **kw,
        )
        return run_er_job(spark, args), args

    m_sfx, a_sfx = run(
        "suffix", "reverse(name)", "sfx", suffix_min_len=5, max_block_size=None
    )
    assert m_sfx["blocking"] == "suffix"
    asg = {
        r["id"]: r["cluster"]
        for r in spark.read.parquet(f"{a_sfx.output}/clusters").collect()
    }
    assert sum(1 for i in range(1, 31) if asg[i] == asg[i + 1000]) == 30

    m_ph, a_ph = run("phonetic", "name", "ph", max_block_size=None)
    assert m_ph["blocking"] == "phonetic"
    asg = {
        r["id"]: r["cluster"]
        for r in spark.read.parquet(f"{a_ph.output}/clusters").collect()
    }
    assert sum(1 for i in range(1, 31) if asg[i] == asg[i + 1000]) == 30

    # caverphone through the same CLI plumbing: digits strip from the
    # ID-like names exactly as under soundex, so twin coverage is intact
    m_cv, a_cv = run(
        "phonetic", "name", "cv",
        max_block_size=None, phonetic_scheme="caverphone",
    )
    assert m_cv["blocking"] == "phonetic"
    asg = {
        r["id"]: r["cluster"]
        for r in spark.read.parquet(f"{a_cv.output}/clusters").collect()
    }
    assert sum(1 for i in range(1, 31) if asg[i] == asg[i + 1000]) == 30

    # qgram: a last-char bump corrupts only the grams touching that char,
    # so every twin shares >= 3 of its 5 four-grams and blocks together
    m_qg, a_qg = run(
        "qgram", "name", "qg",
        qgram_q=4, qgram_threshold_ppt=600, max_block_size=None,
    )
    assert m_qg["blocking"] == "qgram"
    asg = {
        r["id"]: r["cluster"]
        for r in spark.read.parquet(f"{a_qg.output}/clusters").collect()
    }
    assert sum(1 for i in range(1, 31) if asg[i] == asg[i + 1000]) == 30

    # allpairs: whitespace tokens of a compound key (name + a synthetic
    # per-entity zip token) — a twin shares the zip (J = 1/3 >= 0.333),
    # unrelated records share nothing, and the one name-collision pair
    # (the bump of Rec#0001 IS Rec#0002) gets a (1,0,0) vector FS scores
    # negative, so the plumbing test also exercises the scorer's rejection
    m_ap, a_ap = run(
        "allpairs", "concat(name, ' z', pmod(id, 1000))", "ap",
        allpairs_threshold_ppt=333, max_block_size=None,
    )
    assert m_ap["blocking"] == "allpairs"
    asg = {
        r["id"]: r["cluster"]
        for r in spark.read.parquet(f"{a_ap.output}/clusters").collect()
    }
    assert sum(1 for i in range(1, 31) if asg[i] == asg[i + 1000]) == 30

    # blocksplit: every record shares the "Rec#" key — ONE giant block —
    # and the BlockSplit re-keying (target 50 → chunk width 7) still
    # yields the full within-block quadratic, so all 30 twins cluster;
    # the balancing itself is pinned in test_skew
    m_bs, a_bs = run(
        "blocksplit", "substring(name, 1, 4)", "bs", split_target_pairs=50
    )
    assert m_bs["blocking"] == "blocksplit"
    asg = {
        r["id"]: r["cluster"]
        for r in spark.read.parquet(f"{a_bs.output}/clusters").collect()
    }
    assert sum(1 for i in range(1, 31) if asg[i] == asg[i + 1000]) == 30

    # vector: LSH blocking over hashed 3-grams of a padded key — the pad
    # raises twin cosine so every twin survives both the 6-bit SRP bands
    # and the 600-ppt exact-cosine gate (deterministic: fixed md5 planes)
    m_vec, a_vec = run(
        "vector", "concat('zq pad word block ', name)", "vec",
        vector_planes=48, vector_band_rows=6, vector_threshold_ppt=600,
        qgram_q=3,
    )
    assert m_vec["blocking"] == "vector"
    asg = {
        r["id"]: r["cluster"]
        for r in spark.read.parquet(f"{a_vec.output}/clusters").collect()
    }
    assert sum(1 for i in range(1, 31) if asg[i] == asg[i + 1000]) == 30

    import pytest as _pytest

    with _pytest.raises(ValueError):
        run("bogus", "name", "bad")



def test_run_er_cli_defaults_and_explicit_zero(spark, tmp_path, monkeypatch):
    """Options left off the command line fall back to each blocking
    method's own default (edjoin's gram width is 2, not qgram's 4); an
    explicit 0 reaches the operator's range check instead of silently
    becoming the default."""
    import pytest as _pytest

    from xlink_spark.operators import linkage as LK

    sys.path.insert(0, _JOBS_DIR)
    from run_er import build_parser, run_er_job

    src = str(tmp_path / "records_cli")
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha betb")], "id long, name string"
    ).write.parquet(src)

    def parse(*extra):
        return build_parser().parse_args(
            ["--records", src, "--output", str(tmp_path / "out"),
             "--id-col", "id", "--key-expr", "name", "--fields", "name",
             *extra]
        )

    seen = {}

    class _Stop(Exception):
        pass

    def fake_edit_distance_join(recs, key_col, id_col, **kw):
        seen.update(kw)
        raise _Stop

    with monkeypatch.context() as mp:
        mp.setattr(LK, "edit_distance_join", fake_edit_distance_join)
        with _pytest.raises(_Stop):
            run_er_job(spark, parse("--blocking", "edjoin"))
    assert seen == {"k": 1, "q": 2, "method": "prefix"}

    with _pytest.raises(ValueError, match="k must be >= 1"):
        run_er_job(spark, parse("--blocking", "edjoin", "--edjoin-max-edits", "0"))
    with _pytest.raises(ValueError, match="threshold_ppt"):
        run_er_job(
            spark, parse("--blocking", "allpairs", "--allpairs-threshold-ppt", "0")
        )


def test_run_er_job_multipass_blocking(spark, tmp_path):
    """--blocking multipass recovers twins whose PRIMARY sort key is the
    corrupted field: pass 1 keys on the (corrupted) name, pass 2 on
    (segment, nation) — only the union catches both corruption planes."""
    import argparse

    sys.path.insert(0, _JOBS_DIR)
    from run_er import run_er_job

    rows = []
    for i in range(1, 25):
        name = f"Rec#{i:04d}"
        # twin corrupts the name HEAD (teleports across the name sort)
        rows.append((i, name, f"seg{i % 4}", i % 5))
        rows.append((i + 1000, "zz" + name[2:], f"seg{i % 4}", i % 5))
    src = str(tmp_path / "records_mp")
    spark.createDataFrame(
        rows, "id long, name string, segment string, nation long"
    ).write.parquet(src)

    args = argparse.Namespace(
        records=src, output=str(tmp_path / "mp_out"), id_col="id",
        key_expr="name", order_cols="", fields="name,segment,nation",
        jw_fields=None, label_expr="pmod(id_a, 1000) = pmod(id_b, 1000)",
        window=4, threshold_micro=0, em_iterations=3, rules="name:min",
        rank_strategy="keys", snapshots=None, blocking="multipass",
        pass_exprs="substring(name, 1, 6)|name;"
        "concat(segment, '|', nation)|name",
    )
    m = run_er_job(spark, args)
    assert m["blocking"] == "multipass"
    asg = {
        r["id"]: r["cluster"]
        for r in spark.read.parquet(f"{args.output}/clusters").collect()
    }
    paired = sum(1 for i in range(1, 25) if asg.get(i) == asg.get(i + 1000))
    assert paired == 24  # head-corrupted twins only reachable via pass 2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="pass-exprs"):
        bad = argparse.Namespace(**{**vars(args), "pass_exprs": None})
        run_er_job(spark, bad)


def test_run_er_job_review_queue(spark, tmp_path):
    """--review-lower-micro activates the FS two-threshold decision: the
    [lower, upper) band lands in output/review, only >= upper auto-links,
    and the metrics line reports the queue size."""
    import argparse

    sys.path.insert(0, _JOBS_DIR)
    from run_er import run_er_job

    rows = []
    for i in range(1, 21):
        name = f"Rec#{i:04d}"
        rows.append((i, name, "gold" if i % 2 else "silver", i % 5))
        rows.append((i + 1000, name[:-1] + chr(ord(name[-1]) + 1),
                     "gold" if i % 2 else "silver", i % 5))
    src = str(tmp_path / "records_rq")
    spark.createDataFrame(
        rows, "id long, name string, segment string, nation long"
    ).write.parquet(src)

    def run(outdir, **kw):
        base = dict(
            records=src, output=str(tmp_path / outdir), id_col="id",
            key_expr="substring(name, 1, 6)", order_cols="name",
            fields="name,segment,nation", jw_fields=None,
            label_expr="pmod(id_a, 1000) = pmod(id_b, 1000)",
            window=4, threshold_micro=0, em_iterations=3,
            rules="name:min", rank_strategy="keys", snapshots=None,
            blocking="snm",
        )
        base.update(kw)
        args = argparse.Namespace(**base)
        return run_er_job(spark, args), args

    # choose an upper threshold above the twin score so twins fall in the
    # review band: first run plain to find the twin score level
    m0, _ = run("rq0")
    m, a = run("rq1", threshold_micro=10_000_000,
               review_lower_micro=-10_000_000)
    assert m["n_review_pairs"] > 0
    review = spark.read.parquet(f"{a.output}/review")
    assert review.filter("decision != 'possible'").count() == 0
    # scores in the band really are in [lower, upper)
    bad = review.filter(
        "score_micro >= 10000000 or score_micro < -10000000"
    ).count()
    assert bad == 0
    # with the huge upper threshold nothing auto-links
    assert m["n_match_edges"] == 0 and m["n_clusters"] == 40
    # metrics key absent when the flag is off
    assert "n_review_pairs" not in m0


def test_run_er_job_tf_adjustment(spark, tmp_path):
    """--tf-adjust-fields name swaps the global name-agreement weight for
    the per-value one on every pair that agrees on name: doubleton values
    (the bump-collision names) shift by less than unique values, every
    delta matches the floor(1e6·ln(m·n/(m_den·tf_v))) replica exactly,
    and non-agreeing pairs keep their base score byte-for-byte."""
    import argparse
    import math

    sys.path.insert(0, _JOBS_DIR)
    from run_er import run_er_job

    rows = []
    for i in range(1, 31):
        name = f"Rec#{i:04d}"
        rows.append((i, name, "gold" if i % 2 else "silver", i % 5))
        rows.append((i + 1000, name[:-1] + chr(ord(name[-1]) + 1),
                     "gold" if i % 2 else "silver", i % 5))
    src = str(tmp_path / "records_tf")
    spark.createDataFrame(
        rows, "id long, name string, segment string, nation long"
    ).write.parquet(src)

    def run(outdir, **kw):
        args = argparse.Namespace(
            records=src, output=str(tmp_path / outdir), id_col="id",
            key_expr="substring(name, 1, 7)", order_cols="name",
            fields="name,segment,nation", jw_fields=None,
            label_expr="pmod(id_a, 1000) = pmod(id_b, 1000)",
            window=4, threshold_micro=0, em_iterations=5,
            rules="name:longest", rank_strategy="keys", snapshots=None,
            blocking="snm", **kw,
        )
        run_er_job(spark, args)
        return args

    a_base = run("tf_base")
    a_tf = run("tf_adj", tf_adjust_fields="name")

    base = {
        (r.id_a, r.id_b): r.score_micro
        for r in spark.read.parquet(f"{a_base.output}/scores").collect()
    }
    adj = {
        (r.id_a, r.id_b): r.score_micro
        for r in spark.read.parquet(f"{a_tf.output}/scores").collect()
    }
    assert set(base) == set(adj)
    w = {
        r.field: r
        for r in spark.read.parquet(f"{a_base.output}/weights").collect()
    }["agree_name"]
    names = {i: n for i, n, _s, _n in rows}
    tf = {}
    for n in names.values():
        tf[n] = tf.get(n, 0) + 1
    n_total = len(rows)
    changed = 0
    for (ia, ib), s in base.items():
        if names[ia] == names[ib]:
            v = names[ia]
            w_tf = math.floor(
                1e6 * math.log((w.m_num * n_total) / (w.m_den * tf[v]))
            )
            assert adj[(ia, ib)] == s - w.w_agree_micro + w_tf, (ia, ib)
            changed += 1
        else:
            assert adj[(ia, ib)] == s, (ia, ib)
    assert changed > 0
    # validation: tf on a jw field or an unknown field is rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="tf-adjust-fields"):
        run("tf_bad", tf_adjust_fields="bogus")


def test_run_er_job_level_fields(spark, tmp_path):
    """--level-fields name:2 scores name as a 3-level gamma: the weights
    output carries per-(field, level) rows, the learned level-1 (edit
    band) weight is POSITIVE while level-2 (exact — the bump-collision
    artifact) is negative, twins still co-cluster, and the mode/metrics
    reflect the level path. EM mode and tf-adjust combos are rejected."""
    import argparse

    sys.path.insert(0, _JOBS_DIR)
    from run_er import run_er_job

    rows = []
    for i in range(1, 31):
        name = f"Rec#{i:04d}"
        rows.append((i, name, "gold" if i % 2 else "silver", i % 5))
        rows.append((i + 1000, name[:-1] + chr(ord(name[-1]) + 1),
                     "gold" if i % 2 else "silver", i % 5))
    src = str(tmp_path / "records_lvl")
    spark.createDataFrame(
        rows, "id long, name string, segment string, nation long"
    ).write.parquet(src)

    def args(**kw):
        base = dict(
            records=src, output=str(tmp_path / "lvl_out"), id_col="id",
            key_expr="substring(name, 1, 7)", order_cols="name",
            fields="name,segment,nation", jw_fields=None,
            label_expr="pmod(id_a, 1000) = pmod(id_b, 1000)",
            window=4, threshold_micro=0, em_iterations=5,
            rules="name:longest", rank_strategy="keys", snapshots=None,
            blocking="snm", level_fields="name:2",
        )
        base.update(kw)
        return argparse.Namespace(**base)

    m = run_er_job(spark, args())
    assert m["mode"] == "supervised_levels"
    w = {
        (r.field, r.level): r.w_micro
        for r in spark.read.parquet(str(tmp_path / "lvl_out/weights")).collect()
    }
    # 3 levels for name, 2 each for segment/nation
    assert {f for f, _ in w} == {"lvl_name", "lvl_segment", "lvl_nation"}
    assert sum(1 for f, _ in w if f == "lvl_name") == 3
    # the edit band is predictive, exact equality (bump collisions) is not
    assert w[("lvl_name", 1)] > 0 > w[("lvl_name", 2)]
    asg = {
        r["id"]: r["cluster"]
        for r in spark.read.parquet(str(tmp_path / "lvl_out/clusters")).collect()
    }
    assert sum(1 for i in range(1, 31) if asg[i] == asg[i + 1000]) == 30

    import pytest as _pytest

    with _pytest.raises(ValueError, match="requires --label-expr"):
        run_er_job(spark, args(label_expr=None))
    with _pytest.raises(ValueError, match="cannot combine"):
        run_er_job(spark, args(tf_adjust_fields="segment"))
    with _pytest.raises(ValueError, match="level-fields"):
        run_er_job(spark, args(level_fields="bogus:2"))


def test_run_er_job_posteriors(spark, tmp_path):
    """--posteriors attaches posterior_ppm to output/scores, bounded and
    monotone in the score; EM mode (no labels) is rejected."""
    import argparse

    sys.path.insert(0, _JOBS_DIR)
    from run_er import run_er_job

    rows = []
    for i in range(1, 21):
        name = f"Rec#{i:04d}"
        rows.append((i, name, "gold" if i % 2 else "silver", i % 5))
        rows.append((i + 1000, name[:-1] + chr(ord(name[-1]) + 1),
                     "gold" if i % 2 else "silver", i % 5))
    src = str(tmp_path / "records_post")
    spark.createDataFrame(
        rows, "id long, name string, segment string, nation long"
    ).write.parquet(src)

    def args(**kw):
        base = dict(
            records=src, output=str(tmp_path / "post_out"), id_col="id",
            key_expr="substring(name, 1, 7)", order_cols="name",
            fields="name,segment,nation", jw_fields=None,
            label_expr="pmod(id_a, 1000) = pmod(id_b, 1000)",
            window=4, threshold_micro=0, em_iterations=5,
            rules="name:longest", rank_strategy="keys", snapshots=None,
            blocking="snm", posteriors=True,
        )
        base.update(kw)
        return argparse.Namespace(**base)

    run_er_job(spark, args())
    sc = spark.read.parquet(str(tmp_path / "post_out/scores")).collect()
    assert all(0 <= r.posterior_ppm <= 1_000_000 for r in sc)
    srt = sorted(sc, key=lambda r: r.score_micro)
    ps = [r.posterior_ppm for r in srt]
    assert ps == sorted(ps) and ps[0] < ps[-1]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="posteriors requires"):
        run_er_job(spark, args(label_expr=None))


def test_run_er_job_escalation_repair(spark, tmp_path):
    """--repair-fields re-adjudicates chain-merged clusters: trios
    (A, B, C) where A~B share segment, B~C share nation, and A~C share
    nothing chain into ONE component through accepted glue edges even
    though the scorer rejects the (A, C) interior pair; the escalation
    comparator adds the ident column (shared only by true twins) and
    splits every trio back into its three twin pairs, leaving twin links
    intact. Without --repair-fields the chains stay merged."""
    import argparse

    sys.path.insert(0, _JOBS_DIR)
    from run_er import run_er_job

    rows = []
    for k in range(1, 13):
        # trio members: distinct per-trio seg/nation values so nothing
        # agrees across trios; names sequential so SNM sees the chain
        trio = [
            (3 * k - 2, f"a{k:02d}", 2 * k),       # A: segA, natA
            (3 * k - 1, f"a{k:02d}", 2 * k + 1),   # B: segA, natB
            (3 * k, f"c{k:02d}", 2 * k + 1),       # C: segC, natB
        ]
        for i, seg, nat in trio:
            name = f"Rec#{i:04d}x"
            rows.append((i, name, seg, nat, i))
            # twin: bumped name tail, same ident; seg/nation corrupted on
            # a third of twins each so the m-probabilities sit near 2/3 —
            # that keeps single-field-agreement glue edges ABOVE the
            # threshold (disagreement weights stay mild), which is what
            # lets the trios chain-merge in the base run
            tseg = "xx" + seg if i % 3 == 0 else seg
            tnat = nat + 100 if i % 3 == 1 else nat
            rows.append((i + 1000, name[:-1] + "y", tseg, tnat, i))
    src = str(tmp_path / "records_rep")
    spark.createDataFrame(
        rows, "id long, name string, segment string, nation long, ident long"
    ).write.parquet(src)

    def run(outdir, **kw):
        base = dict(
            records=src, output=str(tmp_path / outdir), id_col="id",
            key_expr="'all'", order_cols="name",
            fields="name,segment,nation", jw_fields=None,
            label_expr="pmod(id_a, 1000) = pmod(id_b, 1000)",
            window=5, threshold_micro=0, em_iterations=3,
            rules="name:min", rank_strategy="keys", snapshots=None,
            blocking="snm",
        )
        base.update(kw)
        args = argparse.Namespace(**base)
        return run_er_job(spark, args), args

    def clusters(a):
        return {
            r["id"]: r["cluster"]
            for r in spark.read.parquet(f"{a.output}/clusters").collect()
        }

    m0, a0 = run("rep_base")
    asg0 = clusters(a0)
    # the base run chain-merges every trio: A..C one component
    merged = sum(1 for k in range(1, 13)
                 if asg0[3 * k - 2] == asg0[3 * k])
    assert merged == 12, merged

    m1, a1 = run("rep_fix", repair_fields="ident")
    assert m1["repair_fields"] == ["ident"]
    # every trio was flagged (all 6 members sat in a flagged component)
    assert m1["n_flagged_records"] == 72
    asg1 = clusters(a1)
    for k in range(1, 13):
        A, B, C = 3 * k - 2, 3 * k - 1, 3 * k
        # twins stay linked, the chain is split member from member
        for i in (A, B, C):
            assert asg1[i] == asg1[i + 1000], i
        assert asg1[A] != asg1[B] and asg1[B] != asg1[C]
    # the strong comparator's weight table is written for audit
    wr = spark.read.parquet(f"{a1.output}/weights_repair")
    assert {r["field"] for r in wr.collect()} == {
        "agree_name", "agree_segment", "agree_nation", "agree_ident"
    }

    # repair composes with --level-fields: the strong comparator's binary
    # agreements are reconstructed from the level gammas (exact = top
    # level), and the ident escalation still separates every trio member
    m2, a2 = run("rep_lvl", repair_fields="ident", level_fields="name:2")
    asg2 = clusters(a2)
    for k in range(1, 13):
        A, B, C = 3 * k - 2, 3 * k - 1, 3 * k
        for i in (A, B, C):
            assert asg2[i] == asg2[i + 1000], i
        assert asg2[A] != asg2[B] and asg2[B] != asg2[C]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="already in --fields"):
        run("rep_bad1", repair_fields="nation")
    with _pytest.raises(ValueError, match="not in the records"):
        run("rep_bad2", repair_fields="phone")


def test_run_er_job_group_links(spark, tmp_path):
    """--group-col emits output/group_links: planted duplicate households
    (three members each, each member's twin an exact-name match) score
    GES 1000 via full member alignment, and the min-GES gate keeps only
    those — unrelated household pairs share no match edge at all."""
    import argparse

    sys.path.insert(0, _JOBS_DIR)
    from run_er import run_er_job

    rows = []
    for h in range(8):
        for m in range(3):
            i = h * 10 + m
            name = f"Person{h:02d}m{m}"
            rows.append((i, name, "gold", h, f"H{h}"))
            rows.append((i + 1000, name, "gold", h, f"D{h}"))
    src = str(tmp_path / "records_grp")
    spark.createDataFrame(
        rows, "id long, name string, segment string, nation long, hh string"
    ).write.parquet(src)
    args = argparse.Namespace(
        records=src, output=str(tmp_path / "grp_out"), id_col="id",
        key_expr="substring(name, 1, 10)", order_cols="name",
        fields="name,segment,nation", jw_fields=None,
        label_expr="pmod(id_a, 1000) = pmod(id_b, 1000)",
        window=4, threshold_micro=0, em_iterations=5,
        rules="name:longest", rank_strategy="keys", snapshots=None,
        blocking="snm", group_col="hh", group_min_ges_ppt=900,
    )
    m = run_er_job(spark, args)
    assert m["n_group_links"] == 8
    links = {
        (r["group_a"], r["group_b"]): r["ges_ppt"]
        for r in spark.read.parquet(
            str(tmp_path / "grp_out" / "group_links")
        ).collect()
    }
    assert links == {(f"D{h}", f"H{h}"): 1000 for h in range(8)}


def test_run_er_job_gold_expr_eval_block(spark, tmp_path):
    """--gold-expr: the metrics line gains an 'eval' block scoring the
    final clusters on the labeled subset with the full gauge family —
    planted twins that all pair correctly must score 10⁶ on every micro
    gauge (including the CoNLL-2012 average), records whose gold expr is
    NULL are excluded from n_labeled, and a deliberately shattered gold
    labeling drags every gauge strictly below perfect."""
    import argparse

    sys.path.insert(0, _JOBS_DIR)
    from run_er import run_er_job

    rows = []
    for i in range(1, 31):
        name = f"Gold#{i:04d}"
        rows.append((i, name, "gold" if i % 2 else "silver", i % 5))
        rows.append((i + 1000, name[:-1] + chr(ord(name[-1]) + 1),
                     "gold" if i % 2 else "silver", i % 5))
    src = str(tmp_path / "records_gold")
    spark.createDataFrame(
        rows, "id long, name string, segment string, nation long"
    ).write.parquet(src)

    def run(gold_expr, outdir):
        args = argparse.Namespace(
            records=src, output=str(tmp_path / outdir), id_col="id",
            key_expr="substring(name, 1, 7)", order_cols="name",
            fields="name,segment,nation", jw_fields=None,
            label_expr="pmod(id_a, 1000) = pmod(id_b, 1000)",
            window=4, threshold_micro=0, em_iterations=5,
            rules="name:longest", rank_strategy="keys", snapshots=None,
            gold_expr=gold_expr,
        )
        return run_er_job(spark, args)

    # gold = planted twin identity, but only for even base ids (NULL else)
    m = run("case when pmod(id, 2) = 0 then pmod(id, 1000) end", "gold_even")
    ev = m["eval"]
    assert ev["n_labeled"] == 30  # 15 even base ids × 2 copies
    for k in (
        "bcubed_f_micro", "muc_f_micro", "blanc_micro",
        "ceafm_f_micro", "ceafe_f_micro", "conll_f_micro", "ari_micro",
    ):
        assert ev[k] == 1000000, (k, ev)
    assert ev["v_measure"] == 1.0

    # shattered gold: every record its own gold cluster — the clustering
    # over-merges relative to it, so link-sensitive gauges drop
    m2 = run("id", "gold_shatter")
    ev2 = m2["eval"]
    assert ev2["n_labeled"] == 60
    assert ev2["bcubed_f_micro"] < 1000000
    assert ev2["ceafe_f_micro"] < 1000000
    assert ev2["conll_f_micro"] < 1000000

    # no flag → no eval block
    m3 = run(None, "gold_none")
    assert "eval" not in m3


def test_run_er_job_star_cluster_algo(spark, tmp_path):
    """--cluster-algo star: the star cover replaces transitive closure.
    On isolated twin 2-cliques stars and CC agree exactly (every gauge
    10⁶ via --gold-expr); combining --cluster-algo star with
    --repair-fields is rejected (stars cannot chain-merge, so there is
    nothing to repair); the metrics line records the algorithm."""
    import argparse

    import pytest as _pytest

    sys.path.insert(0, _JOBS_DIR)
    from run_er import run_er_job

    rows = []
    for i in range(1, 21):
        name = f"Star#{i:04d}"
        rows.append((i, name, "gold" if i % 2 else "silver", i % 5, i))
        rows.append((i + 1000, name[:-1] + chr(ord(name[-1]) + 1),
                     "gold" if i % 2 else "silver", i % 5, i))
    src = str(tmp_path / "records_star")
    spark.createDataFrame(
        rows, "id long, name string, segment string, nation long, ident long"
    ).write.parquet(src)

    base = dict(
        records=src, output=str(tmp_path / "star_out"), id_col="id",
        key_expr="substring(name, 1, 7)", order_cols="name",
        fields="name,segment,nation", jw_fields=None,
        label_expr="pmod(id_a, 1000) = pmod(id_b, 1000)",
        window=4, threshold_micro=0, em_iterations=5,
        rules="name:longest", rank_strategy="keys", snapshots=None,
        cluster_algo="star", gold_expr="pmod(id, 1000)",
    )
    m = run_er_job(spark, argparse.Namespace(**base))
    assert m["cluster_algo"] == "star"
    assert m["eval"]["conll_f_micro"] == 1000000
    assert m["eval"]["bcubed_f_micro"] == 1000000

    with _pytest.raises(ValueError, match="chain-merge"):
        run_er_job(spark, argparse.Namespace(**{
            **base, "repair_fields": "ident",
            "output": str(tmp_path / "star_bad"),
        }))


def test_run_er_job_center_and_merge_center_algos(spark, tmp_path):
    """--cluster-algo center / merge_center: similarity-ordered stars and
    their merge variant replace transitive closure. On isolated twin
    2-cliques all four algorithms agree (every gauge 10⁶ via
    --gold-expr); center rejects --repair-fields like star does, while
    merge_center accepts being asked for (it can chain through merges,
    but the repair flag pairs with cc) — the guard names the algo."""
    import argparse

    import pytest as _pytest

    sys.path.insert(0, _JOBS_DIR)
    from run_er import run_er_job

    rows = []
    for i in range(1, 21):
        name = f"Cent#{i:04d}"
        rows.append((i, name, "gold" if i % 2 else "silver", i % 5, i))
        rows.append((i + 1000, name[:-1] + chr(ord(name[-1]) + 1),
                     "gold" if i % 2 else "silver", i % 5, i))
    src = str(tmp_path / "records_center")
    spark.createDataFrame(
        rows, "id long, name string, segment string, nation long, ident long"
    ).write.parquet(src)

    base = dict(
        records=src, output=str(tmp_path / "center_out"), id_col="id",
        key_expr="substring(name, 1, 7)", order_cols="name",
        fields="name,segment,nation", jw_fields=None,
        label_expr="pmod(id_a, 1000) = pmod(id_b, 1000)",
        window=4, threshold_micro=0, em_iterations=5,
        rules="name:longest", rank_strategy="keys", snapshots=None,
        cluster_algo="center", gold_expr="pmod(id, 1000)",
    )
    m = run_er_job(spark, argparse.Namespace(**base))
    assert m["cluster_algo"] == "center"
    assert m["eval"]["conll_f_micro"] == 1000000
    assert m["eval"]["bcubed_f_micro"] == 1000000

    m2 = run_er_job(spark, argparse.Namespace(**{
        **base, "cluster_algo": "merge_center",
        "output": str(tmp_path / "mc_out"),
    }))
    assert m2["cluster_algo"] == "merge_center"
    assert m2["eval"]["conll_f_micro"] == 1000000

    with _pytest.raises(ValueError, match="center clusters cannot"):
        run_er_job(spark, argparse.Namespace(**{
            **base, "repair_fields": "ident",
            "output": str(tmp_path / "center_bad"),
        }))


def test_run_er_job_pivot_cluster_algo(spark, tmp_path):
    """--cluster-algo pivot: KwikCluster LFMIS pivots replace transitive
    closure. On isolated twin 2-cliques pivot and CC agree exactly
    (every gauge 10⁶ via --gold-expr); combining with --repair-fields is
    rejected (pivot clusters cannot chain-merge); the metrics line
    records the algorithm."""
    import argparse

    import pytest as _pytest

    sys.path.insert(0, _JOBS_DIR)
    from run_er import run_er_job

    rows = []
    for i in range(1, 21):
        name = f"Pivt#{i:04d}"
        rows.append((i, name, "gold" if i % 2 else "silver", i % 5, i))
        rows.append((i + 1000, name[:-1] + chr(ord(name[-1]) + 1),
                     "gold" if i % 2 else "silver", i % 5, i))
    src = str(tmp_path / "records_pivot")
    spark.createDataFrame(
        rows, "id long, name string, segment string, nation long, ident long"
    ).write.parquet(src)

    base = dict(
        records=src, output=str(tmp_path / "pivot_out"), id_col="id",
        key_expr="substring(name, 1, 7)", order_cols="name",
        fields="name,segment,nation", jw_fields=None,
        label_expr="pmod(id_a, 1000) = pmod(id_b, 1000)",
        window=4, threshold_micro=0, em_iterations=5,
        rules="name:longest", rank_strategy="keys", snapshots=None,
        cluster_algo="pivot", gold_expr="pmod(id, 1000)",
    )
    m = run_er_job(spark, argparse.Namespace(**base))
    assert m["cluster_algo"] == "pivot"
    assert m["eval"]["conll_f_micro"] == 1000000
    assert m["eval"]["bcubed_f_micro"] == 1000000

    with _pytest.raises(ValueError, match="pivot clusters cannot"):
        run_er_job(spark, argparse.Namespace(**{
            **base, "repair_fields": "ident",
            "output": str(tmp_path / "pivot_bad"),
        }))


def test_run_er_job_canopy_blocking(spark, tmp_path):
    """--blocking canopy: overlapping cheap-metric canopies over the
    key's 4-grams generate the candidates. Twin names differ only in
    the last character, so after the --max-block-size purge strips the
    corpus-constant head/tail grams each twin pair shares its rare
    digit grams and lands in one canopy; FS separates the rest, and on
    isolated twin 2-cliques the whole chain lands the same perfect
    gauges as SNM (every eval metric 10⁶ via --gold-expr)."""
    import argparse

    sys.path.insert(0, _JOBS_DIR)
    from run_er import run_er_job

    rows = []
    for i in range(1, 21):
        name = f"Cnpy{i:04d}xyzw"
        rows.append((i, name, "gold" if i % 2 else "silver", i % 5, i))
        rows.append((i + 1000, name[:-1] + chr(ord(name[-1]) + 1),
                     "gold" if i % 2 else "silver", i % 5, i))
    src = str(tmp_path / "records_canopy")
    spark.createDataFrame(
        rows, "id long, name string, segment string, nation long, ident long"
    ).write.parquet(src)

    base = dict(
        records=src, output=str(tmp_path / "canopy_out"), id_col="id",
        key_expr="name", order_cols=None,
        fields="name,segment,nation", jw_fields=None,
        label_expr="pmod(id_a, 1000) = pmod(id_b, 1000)",
        window=4, threshold_micro=0, em_iterations=5,
        rules="name:longest", rank_strategy="keys", snapshots=None,
        # cap 3 purges the grams every record shares (the constant
        # "Cnpy"/"xyzw" head and tail) and keeps the per-twin digit
        # grams — the canopy recall/cost knob doing its documented job
        blocking="canopy", max_block_size=3, gold_expr="pmod(id, 1000)",
    )
    m = run_er_job(spark, argparse.Namespace(**base))
    assert m["eval"]["conll_f_micro"] == 1000000
    assert m["eval"]["bcubed_f_micro"] == 1000000


def test_canopy_candidate_pairs_recall_and_purge(spark):
    """canopy_candidate_pairs: twins sharing head grams land in one
    canopy (pair emitted, n_canopies >= 1); a record whose every gram
    is purged by max_block_size produces no pairs but no error; q < 1
    raises."""
    import pytest as _pytest

    from xlink_spark.operators.linkage import canopy_candidate_pairs

    recs = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "abcdefgx"), (3, "zzzzyyyy")],
        "id long, name string",
    )
    got = {
        (x["id_a"], x["id_b"]): x["n_canopies"]
        for x in canopy_candidate_pairs(
            recs, "name", "id", q=4, loose=1, tight=2
        ).collect()
    }
    assert (1, 2) in got and (1, 3) not in got and (2, 3) not in got

    # every gram shared by all records -> purged at cap 2 -> no pairs
    allsame = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaaa"), (3, "aaaa")], "id long, name string"
    )
    assert (
        canopy_candidate_pairs(
            allsame, "name", "id", q=4, max_block_size=2
        ).count()
        == 0
    )

    with _pytest.raises(ValueError, match="q must be"):
        canopy_candidate_pairs(recs, "name", "id", q=0)


def test_run_er_job_one_to_one_clean_clean(spark, tmp_path):
    """--cluster-algo one_to_one + --source-expr: clean-clean linkage
    between two internally-duplicate-free sources — every cluster is a
    matched pair or a singleton (one-to-one by construction), twin
    2-cliques land perfect gauges, and the guards fire: missing
    --source-expr raises, --repair-fields is rejected (pairs cannot
    chain-merge)."""
    import argparse

    import pytest as _pytest

    sys.path.insert(0, _JOBS_DIR)
    from run_er import run_er_job

    rows = []
    for i in range(1, 21):
        name = f"Ones#{i:04d}"
        rows.append((i, name, "gold" if i % 2 else "silver", i % 5, i))
        rows.append((i + 1000, name[:-1] + chr(ord(name[-1]) + 1),
                     "gold" if i % 2 else "silver", i % 5, i))
    src = str(tmp_path / "records_o2o")
    spark.createDataFrame(
        rows, "id long, name string, segment string, nation long, ident long"
    ).write.parquet(src)

    base = dict(
        records=src, output=str(tmp_path / "o2o_out"), id_col="id",
        key_expr="substring(name, 1, 7)", order_cols="name",
        fields="name,segment,nation", jw_fields=None,
        label_expr="pmod(id_a, 1000) = pmod(id_b, 1000)",
        window=4, threshold_micro=0, em_iterations=5,
        rules="name:longest", rank_strategy="keys", snapshots=None,
        cluster_algo="one_to_one", source_expr="id < 1000",
        gold_expr="pmod(id, 1000)",
    )
    m = run_er_job(spark, argparse.Namespace(**base))
    assert m["cluster_algo"] == "one_to_one"
    assert m["eval"]["conll_f_micro"] == 1000000
    assert m["eval"]["bcubed_f_micro"] == 1000000

    # one-to-one by construction: no cluster exceeds 2 members
    asg = spark.read.parquet(str(tmp_path / "o2o_out") + "/clusters")
    mx = asg.groupBy("cluster").count().agg({"count": "max"}).collect()[0][0]
    assert mx <= 2

    with _pytest.raises(ValueError, match="source-expr"):
        run_er_job(spark, argparse.Namespace(**{
            **base, "source_expr": None,
            "output": str(tmp_path / "o2o_bad"),
        }))

    with _pytest.raises(ValueError, match="chain-merge"):
        run_er_job(spark, argparse.Namespace(**{
            **base, "repair_fields": "ident",
            "output": str(tmp_path / "o2o_bad2"),
        }))


def test_run_merge_er_job_end_to_end(spark, tmp_path):
    """The merge-ER job CLI: long-form evidence in, members + merged
    value sets out; the two-round Swoosh case resolves through the job
    plumbing and the metrics line carries rounds/convergence."""
    import argparse

    sys.path.insert(0, _JOBS_DIR)
    from run_merge_er import run_merge_er_job

    rows = [
        (1, "names", "bob"), (1, "names", "rb"), (1, "keys", "k1"),
        (2, "names", "rb"), (2, "keys", "k1"), (2, "keys", "k2"),
        (3, "names", "bob"), (3, "keys", "k2"),
        (9, "names", "bob"), (9, "keys", "zz"),
        (9, "junkfield", "ignored"),  # outside --fields: must not affect
    ]
    src = str(tmp_path / "evidence")
    spark.createDataFrame(rows, "id long, fld string, val string").write.parquet(src)
    args = argparse.Namespace(
        values=src, output=str(tmp_path / "merge_out"),
        fields="names,keys", id_col="id", field_col="fld",
        value_col="val", block_field=None, max_rounds=4,
    )
    m = run_merge_er_job(spark, args)
    assert m["rounds_used"] == 2 and m["converged"]
    assert m["n_members"] == 4 and m["n_entities"] == 2
    mem = {
        (r["entity_id"], r["member_id"])
        for r in spark.read.parquet(f"{args.output}/members").collect()
    }
    assert mem == {(1, 1), (1, 2), (1, 3), (9, 9)}
    vals = {
        (r["entity_id"], r["fld"], r["val"])
        for r in spark.read.parquet(f"{args.output}/values").collect()
    }
    # the merged entity's union value set; junkfield filtered out
    assert (1, "names", "bob") in vals and (1, "keys", "k2") in vals
    assert not any(f == "junkfield" for (_, f, _v) in vals)


def test_run_er_job_edjoin_blocking(spark, tmp_path):
    """--blocking edjoin: exact bounded edit-distance candidates on the
    raw name — catches twins whose single corruption lands ANYWHERE in
    the key (here: a mid-name bump that defeats prefix-keyed SNM and a
    last-char bump that defeats suffix blocking), under the same
    FS -> CC -> survivorship chain."""
    import argparse

    sys.path.insert(0, _JOBS_DIR)
    from run_er import run_er_job

    rows = []
    for i in range(1, 31):
        name = f"Rec#{i:04d}xx"
        if i % 2:  # bump a MIDDLE char
            dirty = name[:4] + chr(ord(name[4]) + 1) + name[5:]
        else:  # bump the LAST char
            dirty = name[:-1] + chr(ord(name[-1]) + 1)
        rows.append((i, name, "gold" if i % 2 else "silver", i % 5))
        rows.append((i + 1000, dirty, "gold" if i % 2 else "silver", i % 5))
    src = str(tmp_path / "records_ej")
    spark.createDataFrame(
        rows, "id long, name string, segment string, nation long"
    ).write.parquet(src)

    for method, outdir in (("prefix", "ej"), ("delete", "ej_del")):
        args = argparse.Namespace(
            records=src, output=str(tmp_path / outdir), id_col="id",
            key_expr="name", order_cols="name",
            fields="name,segment,nation", jw_fields=None,
            label_expr="pmod(id_a, 1000) = pmod(id_b, 1000)",
            window=4, threshold_micro=0, em_iterations=5,
            rules="name:longest", rank_strategy="keys", snapshots=None,
            blocking="edjoin", edjoin_max_edits=1, edjoin_method=method,
        )
        metrics = run_er_job(spark, args)
        assert metrics["blocking"] == "edjoin"
        asg = {
            r["id"]: r["cluster"]
            for r in spark.read.parquet(f"{args.output}/clusters").collect()
        }
        assert sum(1 for i in range(1, 31) if asg[i] == asg[i + 1000]) == 30


def test_run_ingest_converts_reference_files(spark, tmp_path):
    """The ingest job end to end: a reference-format raw corpus, entity
    dictionary and word2vec binaries become the parquet inputs run_pipeline
    reads; every rejected corpus line is counted by reason in the snapshot
    manifest, and the dictionary build runs on the outputs."""
    sys.path.insert(0, _JOBS_DIR)
    from reference_files import write_entity_dictionary, write_word2vec_binary
    from run_ingest import run_ingest_job

    from xlink_spark import schemas
    from xlink_spark.plans.pipeline import build_dictionary
    from xlink_spark.plans.snapshots import SnapshotStore

    kb = spark.createDataFrame(
        [
            ("e1", "Paris", "", ["http://kb/paris"]),
            ("e2", "France", "", ["http://kb/france"]),
            ("e3", "Lyon", "（city）", ["http://kb/lyon"]),
        ],
        "entity_id string, title string, sub_title string, uris array<string>",
    )
    write_entity_dictionary(kb, str(tmp_path / "dict"))
    (tmp_path / "raw.txt").write_text(
        "Paris\t\t\t\thttp://KB/paris\t\t[[e1|paris]] is in [[e2|france]]\n"
        "France\t\t\t\thttp://kb/france\t\t[[e2|france]] holds [[e1|paris]]\n"
        "Lyon\t\t（city）\t\tmissing://lyon\t\tfar from [[e1|paris]]\n"  # by full title
        "Gamma\t\t\t\tmissing://gamma\t\tno entity here\n"  # unresolved
        "only one column\n"  # bad shape
        "Paris\t\t\t\thttp://kb/paris\t\tbroken [[e2|anchor\n"  # invalid markup
    )
    words = [("paris", [1.0, 0.0]), ("france", [0.0, 1.0]), ("far", [0.5, 0.5])]
    ents = [("e1", [1.0, 0.0]), ("e2", [0.0, 1.0]), ("e3", [0.5, 0.25])]
    write_word2vec_binary(words, str(tmp_path / "word.bin"))
    write_word2vec_binary(ents, str(tmp_path / "entity.bin"))
    out = tmp_path / "out"
    args = argparse.Namespace(
        raw_corpus=str(tmp_path / "raw.txt"), entity_dict=str(tmp_path / "dict"),
        word_vec=str(tmp_path / "word.bin"), entity_vec=str(tmp_path / "entity.bin"),
        output=str(out), snapshots=str(tmp_path / "snap"), master=None,
    )
    m = run_ingest_job(spark, args)

    quarantine = {
        "rejected": 3, "bad_shape": 1, "unresolved_entity": 1, "invalid_markup": 1
    }
    assert m == {
        "n_docs": 3, "quarantine": quarantine, "n_entities": 3,
        "n_word_vecs": 3, "n_entity_vecs": 3,
    }
    store = SnapshotStore(str(tmp_path / "snap"))
    assert store.manifest("standard_corpus")["metrics"]["quarantine"] == quarantine
    docs = spark.read.parquet(str(out / "documents"))
    kb_out = spark.read.parquet(str(out / "kb"))
    assert docs.schema.simpleString() == schemas.DOCUMENTS.simpleString()
    assert kb_out.schema.simpleString() == schemas.KB_ENTITIES.simpleString()
    assert sorted(r["doc_id"] for r in docs.collect()) == ["e1", "e2", "e3"]
    emb = {}
    for name in ("word_emb", "entity_emb"):
        df = spark.read.parquet(str(out / name))
        assert df.schema.simpleString() == "struct<key:string,vec:array<float>>"
        emb.update({r["key"]: r["vec"] for r in df.collect()})
    assert emb == dict(words + ents)

    d = build_dictionary(docs, kb_out, spark.read.parquet(str(out / "entity_emb")), store)
    ma = {(r["mention"], r["entity_id"]): r["cnt"] for r in d.mention_anchors.collect()}
    assert ma[("paris", "e1")] == 3
