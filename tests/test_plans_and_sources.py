"""Plan-quality assertions (the optimizer contract) and source/sink
layer tests (catalog, partitioned/bucketed writers, log compaction)."""

import os

import pytest

from pyspark.sql import functions as F

from margaret_spark import ErrNulled, Gt, Lte, OffsetLog
from margaret_spark.plans import (
    assert_broadcast_join,
    assert_no_python_udf,
    assert_pushed_filters,
    plan_summary,
)
from margaret_spark.sources import Catalog, compact_log, read_table, write_partitioned

SF = "/root/testdata/sf0.001"


def test_log_query_pushdown(spark, tmp_path):
    log = OffsetLog(spark, str(tmp_path / "log"))
    log.append_many(list(range(100)))
    df = log.query_df(Gt(10), Lte(20))
    assert_pushed_filters(df, "GreaterThan(seq,10)", "LessThanOrEqual(seq,20)")
    assert_no_python_udf(df)


def test_entry_queries_plan_quality(spark):
    """The headline queries must broadcast their dims and keep Python
    out of the plan."""
    import __spark_entry__ as entry

    q3 = entry.q_tpch_q3(spark, SF)
    assert_broadcast_join(q3, at_least=1)
    assert_no_python_udf(q3)

    q5 = entry.q_tpch_q5(spark, SF)
    assert_broadcast_join(q5, at_least=2)
    assert_no_python_udf(q5)

    # Q6: the numeric predicates must reach the parquet scan
    q6 = entry.q_tpch_q6(spark, SF)
    assert_pushed_filters(
        q6, "GreaterThanOrEqual(l_discount,0.05)", "LessThan(l_quantity,24"
    )

    q14 = entry.q_tpch_q14(spark, SF)
    assert_broadcast_join(q14, at_least=1)

    # every declared query stays off the row-at-a-time Python path;
    # the embedding pair-scorers declare the Arrow-batched dot kernel
    # (functions.vectors.pair_dot)
    ARROW_OK = {
        "dedup_embedding",
        "ann_topk",
        "ann_matryoshka",
        "ann_matryoshka_recall",
        "ann_range",
        "ann_lsh",
        "ann_ivf",
        "ann_ivf_indexed",
        # probing scores query×centroid pairs through pair_dot; the
        # candidate ranking itself is integer codegen
        "ann_ivf_int8",
        # both recall arms score pairs through the same Arrow kernel
        "ann_recall",
        # Lloyd assignment scores |corpus|·k pairs through pair_dot
        "embeddings_kmeans",
        # SemDeDup: Lloyd assignment + within-cell pair cosines both
        # go through the Arrow dot kernel
        "dedup_semantic_pairs",
        "dedup_semantic",
        "dedup_semantic_incremental",
        "decontaminate_semantic",
        "embeddings_contrastive",
        # PQ: subspace Lloyd distances and the ADC LUT go through
        # pair_dot; the code table and the DECIMAL distance sum are
        # pure codegen
        "ann_pq_codes",
        "ann_pq_distortion",
        "ann_pq_topk",
        "ann_pq_recall",
        "ann_ivf_pq",
        "ann_ivf_pq_indexed",
        # SemDeDup over hashed doc vectors: the embed stage is pure
        # JVM codegen; the kmeans/pair cosines go through pair_dot
        "docs_semantic_dedup",
        # binary-blob plumbing is genuinely imperative: Arrow-batched
        # mapInPandas is its designed execution path (plan_summary now
        # counts MapInPandas nodes too, so the whole decode family
        # must declare itself here)
        "multimodal_image_meta",
        "multimodal_decode_png",
        "multimodal_decode_jpeg",
        "multimodal_decode_wav",
        "multimodal_video_meta",
        "multimodal_decode_video",
        # dHash: decode is the Arrow stage, the hash itself is integer
        # codegen after it
        "multimodal_image_dhash",
        "multimodal_image_dedup",
        "multimodal_image_phash",
        "multimodal_image_phash_dedup",
        # audio energy-gradient fingerprint: same split — Arrow WAV
        # decode, integer codegen framing/energies/bits after it
        "multimodal_audio_fp",
        "multimodal_audio_dedup",
        # composed: audio pairs (Arrow decode) -> connected components
        "multimodal_dedup_clusters",
        "multimodal_dedup_clusters_all",
        # codec round-trip is BY DESIGN a Python codec exercised
        # through an Arrow-batched pandas UDF
        "codec_roundtrip",
        # the BPE merge loop is genuinely imperative per pre-token;
        # its designed execution path is one Arrow-batched projection
        "text_bpe_tokens",
        "text_bpe_fertility",
        "pack_sequences_bpe",
        # PCA: the covariance grammian's Arrow path (per-batch exact
        # int64 partial sums — bit-identical to the relational tree,
        # pinned in tests/test_search.py) is the default executor
        "embeddings_pca",
        "embeddings_pca_project",
        # chunk-local best-fit-decreasing is sequential bin state by
        # nature; its designed path is one applyInPandas per chunk
        "pack_bfd",
        "pack_bfd_report",
        # scores its planted corpus through the same IVF pair_dot
        # kernel as dedup_embedding
        "dedup_eval_embedding",
        # hierarchical SemDeDup: coarse + sub Lloyd assignment and the
        # within-cell pair cosines all go through the Arrow dot kernel
        "dedup_semantic_hier_pairs",
        "dedup_semantic_hier",
        "dedup_semantic_incremental_hier",
        "ann_hier",
        "ann_hier_indexed",
        "ann_hier_recall",
        "ann_rrf",
        "dedup_eval_semantic_hier",
        # semantic packing clusters through the same Lloyd pair_dot
        # kernel; the packing cumsum itself is pure codegen
        "pack_semantic",
    }
    for name, fn in entry.queries().items():
        assert_no_python_udf(fn(spark, SF), allow_arrow=name in ARROW_OK)


def test_round2_query_plan_shapes(spark):
    """Pin the scale-relevant plan shapes of the round-2 surface:
    BM25's per-term weights broadcast (never a corpus shuffle on the
    query side), fuzzy linkage and IVF embedding dedup run sort-merge
    block joins (one exchange per side, no broadcast of the corpus),
    and the retrieval scorers stay off the Python path entirely."""
    import __spark_entry__ as entry
    from margaret_spark.plans import plan_summary

    bm25 = entry.q_search_bm25(spark, SF)
    assert_broadcast_join(bm25, at_least=1)
    assert_no_python_udf(bm25)

    fuzzy = entry.q_fuzzy_part_names(spark, SF)
    s = plan_summary(fuzzy)
    # r9 distinct-name shape: the tiny name/name-pair sides broadcast
    # (block join + the two id-expansion joins); the ROW table is
    # never shuffled on the block key at all
    assert s["broadcast_joins"] >= 1 and s["shuffles"] == 0
    assert_no_python_udf(fuzzy)

    emb = entry.q_dedup_embedding(spark, SF)
    s = plan_summary(emb)
    assert s["sortmerge_joins"] >= 1  # cell-keyed merge join, not a cross join

    cohorts = entry.q_events_cohorts(spark, SF)
    assert_no_python_udf(cohorts)
    # distinct + per-user min + final agg: at most 3 exchanges, and no
    # exchange keyed on the time column alone
    assert plan_summary(cohorts)["shuffles"] <= 3

    rules = entry.q_text_quality_rules(spark, SF)
    assert_no_python_udf(rules)


def test_lineitem_filter_pushdown(spark):
    li = read_table(spark, f"{SF}/lineitem.parquet").where(F.col("l_orderkey") == 42)
    assert_pushed_filters(li, "EqualTo(l_orderkey,42)")


def test_catalog(spark):
    # schema pinning: the streaming file source (and any reader that
    # must not re-infer) takes the same explicit events schema
    from __spark_entry__ import _EVENTS_SCHEMA

    cat = Catalog(spark, SF, schemas={"events": _EVENTS_SCHEMA})
    names = cat.register_all()
    assert "lineitem" in names and "events" in names
    n = spark.sql("SELECT count(*) AS n FROM region").collect()[0]["n"]
    assert n == 5
    assert spark.sql("SELECT max(event_id) FROM events").collect()[0][0] == 999


def test_read_table_csv_json(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    csv_path = str(tmp_path / "t.csv")
    df.write.option("header", "true").csv(csv_path)
    back = read_table(spark, csv_path, fmt="csv")
    assert {tuple(r) for r in back.collect()} == {("1", "a"), ("2", "b")} or {
        tuple(r) for r in back.collect()
    } == {(1, "a"), (2, "b")}
    json_path = str(tmp_path / "t.json")
    df.write.json(json_path)
    assert read_table(spark, json_path, fmt="json").count() == 2


def test_write_partitioned_prunes(spark, tmp_path):
    ev = read_table(spark, f"{SF}/events.parquet".replace("events", "orders"))
    out = str(tmp_path / "orders_by_status")
    write_partitioned(ev, out, ["o_orderstatus"])
    part_dirs = [d for d in os.listdir(out) if d.startswith("o_orderstatus=")]
    assert len(part_dirs) >= 2
    pruned = spark.read.parquet(out).where(F.col("o_orderstatus") == part_dirs[0].split("=")[1])
    # partition filter → no pushed data filters needed, scan reads 1 dir
    assert pruned.count() > 0


def test_compact_log_preserves_semantics(spark, tmp_path):
    log = OffsetLog(spark, str(tmp_path / "log"))
    for i in range(20):
        log.append(i)  # 20 tiny files
    log.null(3)
    log.replace(5, 555)
    before = list(log.query())
    n_files_before = len(log._data_files())
    assert n_files_before == 20

    n_after = compact_log(log, target_files=2)
    assert n_after <= 2
    assert len(log._data_files()) == n_after

    after = list(log.query())
    assert after == before
    assert isinstance(after[3], ErrNulled)
    assert after[5] == 555
    with pytest.raises(ErrNulled):
        log.get(3)
    assert log.get(5) == 555
    log.check_consistency()
    # appends continue seamlessly after compaction
    assert log.append(999) == 20
    assert log.get(20) == 999


def test_compact_log_multifile_crash_safe(spark, tmp_path, monkeypatch):
    """Crash between publish (step 2) and input deletion (step 3) with
    target_files > 1: output ranges align to old file boundaries, so
    NO old file straddles two new files — every input is superseded
    the moment its group's output lands, and readers never see
    duplicate seqs (the r2 rule only handled target_files == 1)."""
    import os as _os
    import shutil as _shutil

    from margaret_spark.sources import writers as W

    log = OffsetLog(spark, str(tmp_path / "log"))
    # misaligned old files: 0-9, 10-24, 25-29, 30-44 — repartitionByRange
    # with 2 output files would split mid-file without alignment
    log.append_many(list(range(10)))
    log.append_many(list(range(10, 25)))
    log.append_many(list(range(25, 30)))
    log.append_many(list(range(30, 45)))
    log.replace(7, 777)
    before = list(log.query())
    old_paths = {p for _l, _h, p in log._data_files()}

    # crash simulation: publishing succeeds, every deletion of an old
    # input "crashes" (raises are swallowed per-file would change flow;
    # instead make remove/rmtree no-ops for the old inputs)
    real_remove, real_rmtree = _os.remove, _shutil.rmtree

    def fake_remove(p):
        if p in old_paths:
            return  # crash before this delete happened
        real_remove(p)

    def fake_rmtree(p, **kw):
        if p in old_paths:
            return
        real_rmtree(p, **kw)

    monkeypatch.setattr(W.os, "remove", fake_remove)
    monkeypatch.setattr(_shutil, "rmtree", fake_rmtree)
    n = W.compact_log(log, target_files=2)
    monkeypatch.undo()
    assert 1 <= n <= 2

    # old inputs still on disk (the "crash"), but none is live
    leftovers = [p for p in old_paths if _os.path.exists(p)]
    assert leftovers, "crash simulation did not keep any old inputs"
    live = log._data_files()
    assert not (set(p for _l, _h, p in live) & set(leftovers))
    # no duplicate / missing seqs for any reader
    assert list(log.query()) == before
    log.check_consistency()

    # reopen: janitor sweeps the dead inputs
    log2 = OffsetLog(spark, str(tmp_path / "log"))
    assert not [p for p in leftovers if _os.path.exists(p)]
    assert list(log2.query()) == before
    log2.check_consistency()


def test_compact_log_aligned_groups_unit(tmp_path):
    """Group boundaries always coincide with old file boundaries and
    partition the input; single-directory groups merge away."""
    from margaret_spark.sources.writers import _aligned_groups

    bounds = [(0, 9), (10, 24), (25, 29), (30, 44)]
    files = []
    for i, (lo, hi) in enumerate(bounds):
        p = tmp_path / f"f{i}.parquet"
        p.write_bytes(b"x" * (hi - lo + 1) * 100)
        files.append((lo, hi, str(p)))
    for tf in (1, 2, 3, 4, 7):
        groups = _aligned_groups(files, tf)
        flat = [f for g in groups for f in g]
        assert flat == files  # contiguous partition, order kept
        assert len(groups) <= max(1, tf)

    # a lone bulk DIRECTORY group merges with a neighbor (cannot be
    # atomically rename-replaced by a same-range plain file)
    d = tmp_path / "bulk.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"y" * 100_000)
    files_with_dir = files[:2] + [(45, 60, str(d))]
    groups = _aligned_groups(files_with_dir, 3)
    assert all(len(g) > 1 or not os.path.isdir(g[0][2]) for g in groups)
    assert [f for g in groups for f in g] == files_with_dir

    assert _aligned_groups([], 3) == []


def test_compact_log_no_patches(spark, tmp_path):
    log = OffsetLog(spark, str(tmp_path / "log"))
    log.append_many(list(range(10)))
    log.append_many(list(range(10, 30)))
    assert compact_log(log, target_files=1) == 1
    assert list(log.query()) == list(range(30))
    log.check_consistency()


def test_compact_small_files_size_tiered(spark, tmp_path):
    from margaret_spark.sources import compact_small_files, maybe_compact

    log = OffsetLog(spark, str(tmp_path / "log"))
    for i in range(30):
        log.append(i)  # 30 tiny files
    log.null(2)
    log.replace(7, 777)
    before = list(log.query())

    # everything is tiny -> one run, one merged file
    assert compact_small_files(log, small_file_bytes=1 << 20) == 1
    assert len(log._data_files()) == 1
    assert list(log.query()) == before
    log.check_consistency()

    # the merged file is now "large": further passes must not touch it
    big = log._data_files()[0]
    big_bytes = os.path.getsize(big[2])
    log.append_many(list(range(30, 40)))
    log.append(40)
    assert compact_small_files(log, small_file_bytes=big_bytes) == 1
    files = log._data_files()
    assert files[0] == big  # untouched cold file
    assert len(files) == 2
    assert list(log.query())[30:] == list(range(30, 41))
    assert log.append(41) == 41

    # scheduling: below threshold is a no-op
    assert maybe_compact(log, max_small_files=64, small_file_bytes=big_bytes) == 0


def test_compact_small_files_respects_target_bytes(spark, tmp_path):
    from margaret_spark.sources import compact_small_files

    log = OffsetLog(spark, str(tmp_path / "log"))
    for chunk in range(6):
        log.append_many(list(range(chunk * 100, (chunk + 1) * 100)))
    per_file = os.path.getsize(log._data_files()[0][2])
    # target fits ~2 files per run -> 3 merged runs
    n = compact_small_files(
        log, small_file_bytes=10 * per_file, target_file_bytes=2 * per_file + 100
    )
    assert n == 3
    assert list(log.query()) == list(range(600))
    log.check_consistency()


def test_snapshot_catalog_cross_log_cut(spark, tmp_path):
    from margaret_spark.sources import SnapshotCatalog, compact_small_files

    a = OffsetLog(spark, str(tmp_path / "a"))
    b = OffsetLog(spark, str(tmp_path / "b"))
    a.append_many([1, 2, 3])
    b.append_many([10, 20])
    b.null(0)

    cat = SnapshotCatalog(str(tmp_path / "snaps"))
    sid = cat.snapshot({"a": a, "b": b}, note="cut-1")
    assert sid == 0

    # post-snapshot mutations are invisible in the as-of views
    a.append(4)
    a.null(1)
    b.replace(1, 99)
    views = cat.read_all(sid, {"a": a, "b": b})
    a_rows = {r["seq"]: (r["value"], r["nulled"]) for r in views["a"].collect()}
    b_rows = {r["seq"]: (r["value"], r["nulled"]) for r in views["b"].collect()}
    assert a_rows == {0: (1, False), 1: (2, False), 2: (3, False)}
    assert b_rows == {0: (None, True), 1: (20, False)}

    # head reads still see everything
    assert a.get(3) == 4
    assert b.get(1) == 99

    # a second snapshot pins the new state; ids are monotonic
    sid2 = cat.snapshot({"a": a, "b": b})
    assert sid2 == 1
    v2 = cat.read(sid2, "b", b)
    assert {r["seq"]: r["value"] for r in v2.where(~F.col("nulled")).collect()} == {1: 99}

    # size-tiered compaction does not invalidate snapshots
    compact_small_files(a, small_file_bytes=1 << 20)
    again = {r["seq"]: r["value"] for r in cat.read(sid, "a", a).collect()}
    assert again == {0: 1, 1: 2, 2: 3}

    cat.drop(sid)
    assert cat.ids() == [sid2]


def test_keeper_sink_only_never_materializes_driver_pandas(spark, tmp_path):
    """The scale contract of the executor-side keeper sinks: with
    sink_dir and NO callback, the foreachBatch body must never call
    DataFrame.toPandas() — keeper rows flow executor → parquet, the
    driver only coordinates (streaming/sinks.py delivery())."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import read_keeper_sink, stream_dedup_exact

    calls = {"n": 0}
    orig = DataFrame.toPandas

    def counting(self):
        calls["n"] += 1
        return orig(self)

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    log.append_many(["a", "b", "a"])
    sink = str(tmp_path / "sink")
    DataFrame.toPandas = counting
    try:
        stream_dedup_exact(
            log, F.col("value"), None, str(tmp_path / "ck"), sink_dir=sink
        )
    finally:
        DataFrame.toPandas = orig
    assert calls["n"] == 0
    got = {
        r["keep_seq"]
        for r in read_keeper_sink(
            spark, sink, "content_hash string, keep_seq long"
        ).collect()
    }
    assert got == {0, 1}


def test_no_shadowed_duplicate_toplevel_defs():
    """Every module defines each top-level function/class exactly once.

    Guards the bug class found in r8's continuation review: an edit to
    similarity.py left a 450-line stale tail re-defining 10 functions,
    so Python silently ran the LAST (old) copies and shadowed a
    refactor. Results happened to be equivalent; the next divergence
    would not be."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "margaret_spark"
    offenders = []
    for py in sorted(root.rglob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        seen = {}
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if node.name in seen:
                    offenders.append(f"{py}:{node.lineno} re-defines {node.name} (first at :{seen[node.name]})")
                seen[node.name] = node.lineno
    assert not offenders, "shadowed duplicate definitions:\n" + "\n".join(offenders)


def test_catalog_reads_directory_tables(spark, tmp_path):
    # the scale-standard layout: a table IS a directory, optionally
    # Hive-partitioned — the catalog must register it like a file
    from pyspark.sql import functions as F

    from margaret_spark.sources.catalog import Catalog, read_table

    root = tmp_path / "warehouse"
    root.mkdir()
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "a", 30)], "id long, k string, v long"
    )
    # plain directory of parquet parts
    df.write.mode("overwrite").parquet(str(root / "plaintab"))
    # hive-partitioned directory (k=a / k=b subdirs)
    df.write.mode("overwrite").partitionBy("k").parquet(str(root / "parttab"))
    # a csv-file table alongside, to check mixed listings still work
    df.write.mode("overwrite").option("header", "true").csv(str(root / "csvtab"))

    cat = Catalog(spark, str(root))
    names = cat.register_all()
    assert names == ["csvtab", "parttab", "plaintab"]
    assert spark.sql("SELECT count(*) c FROM plaintab").collect()[0]["c"] == 3
    # partition columns survive discovery and prune
    part = spark.sql("SELECT id FROM parttab WHERE k = 'a'")
    assert sorted(r["id"] for r in part.collect()) == [1, 3]
    # csv directory dispatches on the inner data files' extension
    csvt = read_table(spark, str(root / "csvtab"))
    assert csvt.count() == 3


def test_dir_format_walk_is_bounded(tmp_path):
    # _dir_format must stop at the first level holding any data file
    # and descend ONLY through key=value partition dirs — a huge
    # mixed-content tree must not be recursively walked
    from margaret_spark.sources.catalog import _dir_format

    root = tmp_path / "tab"
    root.mkdir()
    # unrecognized data files at the top level: default parquet, and
    # the recognizable file buried in a NON-partition subdir is never
    # reached (the old os.walk would have found it)
    (root / "data.bin").write_text("x")
    deep = root / "notes" / "inner"
    deep.mkdir(parents=True)
    (deep / "rows.csv").write_text("a,b\n1,2\n")
    assert _dir_format(str(root)) == "parquet"
    # partition-level descent still dispatches on the leaf files
    part = tmp_path / "ptab" / "k=a"
    part.mkdir(parents=True)
    (part / "part-0.csv").write_text("a,b\n1,2\n")
    assert _dir_format(str(tmp_path / "ptab")) == "csv"


def test_snapshot_catalog_rejects_foreign_manifest_names(tmp_path):
    import pytest as _pytest

    from margaret_spark.sources.snapshot import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path / "snaps"))
    # non-manifest entries are ignored
    (tmp_path / "snaps" / "README.json").write_text("{}")
    (tmp_path / "snaps" / "manifest-00000000000000000001.json.tmp").write_text("{}")
    assert cat.ids() == []
    # a manifest-shaped entry with a bogus id fails loudly, path named
    (tmp_path / "snaps" / "manifest-3.bak.json").write_text("{}")
    with _pytest.raises(ValueError, match="manifest-3.bak.json"):
        cat.ids()
    (tmp_path / "snaps" / "manifest-3.bak.json").unlink()
    # non-ASCII digits pass str.isdigit() but int() rejects them —
    # they must hit the loud guard, not leak a bare ValueError
    (tmp_path / "snaps" / "manifest-²².json").write_text("{}")
    with _pytest.raises(ValueError, match="foreign manifest-like entry"):
        cat.ids()
