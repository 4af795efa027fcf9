"""Engine-managed storage ingestion (session.ingest_tables).

Contract: ingestion changes only the physical layout — every declared
query returns identical values over raw landed files and the managed
copy, facts come out scan-parallel (multiple files), and the session
catalog re-points transparently.
"""

from __future__ import annotations

import os

import pytest

from data_etl_sh_lianjia_spark import session as sess
from data_etl_sh_lianjia_spark.canon import canon_rows
from data_etl_sh_lianjia_spark.plans.registry import all_queries

CHECK_QUERIES = ("q1_scan_agg_df", "json_events_df", "sessionize_df", "string_regex_df")


@pytest.fixture()
def restore_catalog(spark):
    saved = (
        dict(getattr(spark, "_lianjia_ingest_map", {}) or {}),
        dict(getattr(spark, "_lianjia_table_cache", {}) or {}),
        set(getattr(spark, "_lianjia_cached_views", set()) or set()),
        dict(getattr(spark, "_lianjia_keydict_views", {}) or {}),
        set(getattr(spark, "_lianjia_dim_pool", {}) or {}),
        set(getattr(spark, "_lianjia_flat_pool", {}) or {}),
        dict(getattr(spark, "_lianjia_bucket_tables", {}) or {}),
    )
    yield
    # drop pool entries persisted over the test's tmp copies — the
    # CacheManager would otherwise keep serving them for the session
    dim_pool = getattr(spark, "_lianjia_dim_pool", {})
    for key in set(dim_pool) - saved[4]:
        try:
            dim_pool.pop(key)[1].unpersist()
        except Exception:
            pass
    flat_pool = getattr(spark, "_lianjia_flat_pool", {})
    for key in set(flat_pool) - saved[5]:
        try:
            flat_pool.pop(key)[1].unpersist()
        except Exception:
            pass
    spark._lianjia_ingest_map = saved[0]
    spark._lianjia_table_cache = saved[1]
    spark._lianjia_cached_views = saved[2]
    spark._lianjia_keydict_views = saved[3]
    spark._lianjia_bucket_tables = saved[6]
    # force re-registration: the lj_* views still point at the test's tmp
    # managed copies; a stale memo here would silently re-route every later
    # SQL-path test (incl. the raw-file oracle sweep) through them
    spark._lianjia_views_dir = None


def _run(spark, sf_dir, name):
    df = all_queries()[name].spark_fn(spark, sf_dir)
    return canon_rows([tuple(r) for r in df.collect()], df.columns)


def test_ingest_is_value_identical_and_scan_parallel(
    spark, sf_dir, tmp_path, monkeypatch, restore_catalog
):
    raw = {n: _run(spark, sf_dir, n) for n in CHECK_QUERIES}

    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path))
    out_dir = sess.ingest_tables(spark, sf_dir)
    assert os.path.isdir(out_dir)

    # facts split into multiple scan-parallel files, dims stay single
    li_parts = [
        f for f in os.listdir(os.path.join(out_dir, "lineitem.parquet"))
        if f.endswith(".parquet")
    ]
    assert len(li_parts) > 1
    nation_parts = [
        f for f in os.listdir(os.path.join(out_dir, "nation.parquet"))
        if f.endswith(".parquet")
    ]
    assert len(nation_parts) == 1

    for n in CHECK_QUERIES:
        assert _run(spark, sf_dir, n) == raw[n], f"{n} diverged after ingest"


def test_ingest_idempotent_and_redirects(spark, sf_dir, tmp_path, monkeypatch, restore_catalog):
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path))
    first = sess.ingest_tables(spark, sf_dir)
    mtime = os.path.getmtime(os.path.join(first, "lineitem.parquet", "_SUCCESS"))
    second = sess.ingest_tables(spark, sf_dir)
    assert first == second
    assert os.path.getmtime(os.path.join(first, "lineitem.parquet", "_SUCCESS")) == mtime
    # load_tables serves from the managed copy for this session
    df = sess.load_tables(spark, sf_dir, names=("lineitem",))["lineitem"]
    files = {r[0] for r in df.select(F_input_file()).distinct().collect()}
    assert all(str(tmp_path) in f for f in files)

    # a fingerprint mismatch (regenerated source) must trigger a rebuild
    marker = os.path.join(first, "lineitem.parquet", "_SUCCESS")
    with open(marker, "w") as fh:
        fh.write("0:0")
    sess.ingest_tables(spark, sf_dir)
    with open(marker) as fh:
        assert fh.read().strip() != "0:0", "stale managed copy was not rebuilt"


def F_input_file():
    from pyspark.sql import functions as F

    return F.input_file_name()


def test_keydict_projection_serves_distinct_count(
    spark, sf_dir, tmp_path, monkeypatch, restore_catalog
):
    """Exact distinct counts: full-scan fallback (raw) and the keydict
    aggregate projection (managed) must return identical values, and the
    managed plan must scan the dictionary, not the fact table."""
    # force the raw fallback path regardless of any earlier ingest
    spark._lianjia_ingest_map = {}
    spark._lianjia_table_cache = {}
    spark._lianjia_views_dir = None
    raw = _run(spark, sf_dir, "distinct_count")
    assert sess.keydict_view(spark, sf_dir, "lineitem") is None

    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path))
    out_dir = sess.ingest_tables(spark, sf_dir)
    kd = os.path.join(out_dir, "lineitem.keydict.parquet")
    assert os.path.exists(os.path.join(kd, "_SUCCESS"))

    df = all_queries()["distinct_count"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "keydict" in plan, "managed distinct_count did not use the projection"
    assert "lineitem.parquet" not in plan, "projection plan still scans the fact table"
    from data_etl_sh_lianjia_spark.canon import canon_rows as _cr

    managed = _cr([tuple(r) for r in df.collect()], df.columns)
    assert managed == raw


def test_shredded_props_column_serves_json_events(
    spark, sf_dir, tmp_path, monkeypatch, restore_catalog
):
    """json_events over managed storage must read the stored props_k column
    (no per-row JSON parse in the plan) and stay value-identical to raw."""
    spark._lianjia_ingest_map = {}
    spark._lianjia_table_cache = {}
    spark._lianjia_views_dir = None
    raw = _run(spark, sf_dir, "json_events")

    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path))
    sess.ingest_tables(spark, sf_dir)
    df = all_queries()["json_events"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "get_json_object" not in plan, "managed json_events still parses JSON"
    from data_etl_sh_lianjia_spark.canon import canon_rows as _cr

    managed = _cr([tuple(r) for r in df.collect()], df.columns)
    assert managed == raw


def test_shredder_mirrors_spark_cast_semantics_on_edge_values(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """The ingest-time Python shredder must agree with the raw path's
    TRY_CAST(get_json_object(...)) on every edge shape: string-wrapped
    ints, signed/padded strings, floats (NULL), bools (NULL), out-of-int64
    ints (NULL), arrays (NULL), missing keys (NULL)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    props = [
        '{"k": 5}', '{"k": "5"}', '{"k": " 5 "}', '{"k": "+7"}',
        '{"k": -3}', '{"k": 76.5}', '{"k": 5.0}', '{"k": 1e3}',
        '{"k": true}', '{"k": "5.7"}', '{"k": "0x10"}',
        '{"k": 99999999999999999999}', '{"k": [1]}', '{"k": null}',
        "{}", None, "not json",
    ]
    n = len(props)
    sf = tmp_path / "sfshred"
    sf.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array([1_700_000_000_000_000_000 + i for i in range(n)], pa.int64()),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": pa.array(["view"] * n),
                "value": pa.array([0.0] * n, pa.float64()),
                "props": pa.array(props),
            }
        ),
        str(sf / "events.parquet"),
    )

    def grab():
        df = sess.load_tables(spark, str(sf), names=("events",))["events"]
        return {
            r.event_id: r.props_k
            for r in df.select("event_id", "props_k").collect()
        }

    spark._lianjia_ingest_map = {}
    spark._lianjia_table_cache = {}
    spark._lianjia_views_dir = None
    raw = grab()
    expected = {0: 5, 1: 5, 2: 5, 3: 7, 4: -3}
    expected.update({i: None for i in range(5, n)})
    assert raw == expected, "raw-path derivation drifted from probed semantics"

    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    sess.ingest_tables(spark, str(sf))
    managed = grab()
    assert managed == raw, "managed shredded column diverged from raw path"


def test_keydict_incremental_merge_equals_rebuild(tmp_path):
    """The scale contract of the keydict projection: per-batch dictionaries
    merged by (col, key) cnt-sum must equal the dictionary built from the
    concatenated data — so each ingest batch can ship its own keydict and
    the global projection never rescans old data."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    rows_a = pa.table(
        {"l_partkey": pa.array([1, 1, 2, 3], pa.int64()),
         "l_suppkey": pa.array([7, 7, 7, 8], pa.int64())}
    )
    rows_b = pa.table(
        {"l_partkey": pa.array([2, 4, 4, 4], pa.int64()),
         "l_suppkey": pa.array([8, 9, 7, 9], pa.int64())}
    )

    def build(tbl, name):
        d = tmp_path / name
        d.mkdir()
        pq.write_table(tbl, str(d / "part-00000.parquet"))
        kd = tmp_path / f"{name}.keydict.parquet"
        sess._build_keydict_local(
            str(d), str(kd), ("l_partkey", "l_suppkey"), "fp"
        )
        return pq.read_table(str(kd))

    kd_a, kd_b = build(rows_a, "a"), build(rows_b, "b")
    kd_full = build(pa.concat_tables([rows_a, rows_b]), "full")

    merged = sess.merge_keydicts([kd_a, kd_b])
    full_sorted = kd_full.sort_by(
        [("col", "ascending"), ("key", "ascending")]
    )
    assert merged.to_pylist() == full_sorted.to_pylist()
    # and the distinct/count reads off the merged dictionary are exact
    part = merged.filter(pc.equal(merged["col"], "l_partkey"))
    assert part.num_rows == 4  # distinct partkeys 1,2,3,4
    assert pc.sum(part["cnt"]).as_py() == 8  # total rows


def test_distributed_ingest_branch_matches_local(
    spark, sf_dir, tmp_path, monkeypatch, restore_catalog
):
    """Force the >=256MB distributed ingest branch (Spark repartitionByRange
    + Spark-built keydict + expression-shredded events) on the small
    fixture and assert it is value-identical to the local pyarrow branch:
    same distinct_count results off the keydict, same shredded json_events."""
    spark._lianjia_ingest_map = {}
    spark._lianjia_table_cache = {}
    spark._lianjia_views_dir = None

    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "local"))
    sess.ingest_tables(spark, sf_dir)
    local_dc = _run(spark, sf_dir, "distinct_count")
    local_je = _run(spark, sf_dir, "json_events")

    spark._lianjia_ingest_map = {}
    spark._lianjia_table_cache = {}
    spark._lianjia_views_dir = None
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "dist"))
    monkeypatch.setattr(sess, "LOCAL_INGEST_MAX_BYTES", 0)
    out_dir = sess.ingest_tables(spark, sf_dir)
    # the distributed branch really ran: Spark's writer emits uuid-suffixed
    # part names (part-00000-<uuid>...parquet), while the local pyarrow
    # branch writes literal part-%05d.parquet — the marker alone could not
    # tell the branches apart
    kd = os.path.join(out_dir, "lineitem.keydict.parquet")
    assert os.path.exists(os.path.join(kd, "_SUCCESS"))
    kd_parts = [f for f in os.listdir(kd) if f.endswith(".parquet")]
    assert kd_parts and all(len(f) > len("part-00000.parquet") for f in kd_parts), (
        f"keydict not written by the Spark branch: {kd_parts}"
    )
    li_parts = [
        f
        for f in os.listdir(os.path.join(out_dir, "lineitem.parquet"))
        if f.endswith(".parquet")
    ]
    assert li_parts and all(len(f) > len("part-00000.parquet") for f in li_parts)
    assert _run(spark, sf_dir, "distinct_count") == local_dc
    assert _run(spark, sf_dir, "json_events") == local_je


def test_dim_cache_invalidates_on_source_rewrite(
    spark, tmp_path, restore_catalog
):
    """The dimension buffer pool must never serve stale rows: register_views
    folds dim fingerprints into its memo key, so an in-place rewrite of a
    cached dim parquet re-registers and re-caches on the next query build."""
    import shutil

    import pyarrow.parquet as pq

    sf = tmp_path / "sfdim"
    sf.mkdir()
    shutil.copy("/root/testdata/sf0.001/nation.parquet", str(sf / "nation.parquet"))

    spark._lianjia_ingest_map = {}
    spark._lianjia_table_cache = {}
    spark._lianjia_views_dir = None
    sess.register_views(spark, str(sf))
    before = spark.sql("SELECT COUNT(*) AS c FROM lj_nation").collect()[0].c
    assert "lj_nation" in getattr(spark, "_lianjia_cached_views", set())

    tab = pq.read_table(str(sf / "nation.parquet"))
    pq.write_table(tab.slice(0, tab.num_rows - 5), str(sf / "nation.parquet"))

    sess.register_views(spark, str(sf))
    after = spark.sql("SELECT COUNT(*) AS c FROM lj_nation").collect()[0].c
    assert after == before - 5, (
        f"cached dim served stale rows after rewrite ({before} -> {after})"
    )


def test_flattened_dim_views_match_their_join(spark, sf_dir, restore_catalog):
    """The materialized snowflake-flattening views (session._FLAT_DIMS) are
    definitionally equal to the join they replace — a query switching to
    lj_supplier_geo must see exactly the rows of supplier JOIN nation JOIN
    region."""
    spark._lianjia_views_dir = None
    sess.register_views(spark, sf_dir)
    for name, (_bases, sql) in sess._FLAT_DIMS.items():
        flat = spark.table("lj_" + name)
        direct = spark.sql(sql.format(p="lj_"))
        assert sorted(flat.columns) == sorted(direct.columns), name
        cols = flat.columns
        got = canon_rows([tuple(r) for r in flat.collect()], cols)
        want = canon_rows(
            [tuple(r) for r in direct.select(*cols).collect()], cols
        )
        assert got == want, f"{name}: flattened view diverges from its join"


def test_flattened_dim_rebuilds_on_base_rewrite(spark, tmp_path, restore_catalog):
    """Rewriting a base dimension must rebuild the flattened views too —
    a stale cached supplier_geo would silently serve dropped nations."""
    import shutil

    import pyarrow.parquet as pq

    sf = tmp_path / "sfflat"
    sf.mkdir()
    for t in ("supplier", "nation", "region", "customer", "part"):
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", str(sf / f"{t}.parquet"))

    spark._lianjia_ingest_map = {}
    spark._lianjia_table_cache = {}
    spark._lianjia_views_dir = None
    sess.register_views(spark, str(sf))
    before = spark.sql("SELECT COUNT(*) AS c FROM lj_supplier_geo").collect()[0].c
    assert before > 0

    nat = pq.read_table(str(sf / "nation.parquet"))
    pq.write_table(nat.slice(0, 1), str(sf / "nation.parquet"))

    sess.register_views(spark, str(sf))
    after = spark.sql("SELECT COUNT(*) AS c FROM lj_supplier_geo").collect()[0].c
    lone = spark.sql(
        "SELECT COUNT(*) AS c FROM lj_supplier s JOIN lj_nation n"
        " ON s_nationkey = n_nationkey JOIN lj_region r"
        " ON n_regionkey = r_regionkey"
    ).collect()[0].c
    assert after == lone and after < before, (
        f"flattened dim served stale rows after base rewrite ({before} -> {after})"
    )


def test_append_only_delta_ingest(spark, tmp_path, monkeypatch, restore_catalog):
    """A directory source that only GAINS part files takes the delta path:
    existing managed parts stay byte-untouched, only the new batch is laid
    out, the keydict projection merges instead of rebuilding — and every
    result matches what a from-scratch ingest of the full table produces."""
    import glob

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    full = pq.read_table("/root/testdata/sf0.001/lineitem.parquet")
    half = full.num_rows // 2
    sf = tmp_path / "sfdelta"
    (sf / "lineitem.parquet").mkdir(parents=True)
    pq.write_table(
        full.slice(0, half), str(sf / "lineitem.parquet" / "batch-0.parquet")
    )
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_appended == 0

    managed = sorted(glob.glob(os.path.join(out, "lineitem.parquet", "*.parquet")))
    mtimes = {p: os.stat(p).st_mtime_ns for p in managed}

    pq.write_table(
        full.slice(half), str(sf / "lineitem.parquet" / "batch-1.parquet")
    )
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_appended == 1, "append did not take the delta path"
    assert spark._lianjia_ingest_rebuilt == 0
    for p, m in mtimes.items():
        assert os.stat(p).st_mtime_ns == m, f"delta ingest rewrote history: {p}"
    new_parts = set(
        glob.glob(os.path.join(out, "lineitem.parquet", "*.parquet"))
    ) - set(managed)
    assert new_parts, "no new managed part written for the appended batch"

    # served values == the full table
    row = all_queries()["distinct_count"].spark_fn(spark, str(sf)).collect()[0]
    assert row.n_rows == full.num_rows
    assert row.distinct_parts == len(pc.unique(full.column("l_partkey")))
    assert row.distinct_supps == len(pc.unique(full.column("l_suppkey")))

    # merged keydict == from-scratch dictionary of the full table
    kd = pq.read_table(
        glob.glob(os.path.join(out, "lineitem.keydict.parquet", "*.parquet"))[0]
    )
    for col in ("l_partkey", "l_suppkey"):
        got = {
            r["key"]: r["cnt"]
            for r in kd.to_pylist()
            if r["col"] == col
        }
        vc = pc.value_counts(full.column(col).combine_chunks())
        want = {
            v.as_py(): c.as_py()
            for v, c in zip(vc.field("values"), vc.field("counts"))
        }
        assert got == want, f"merged keydict diverges from rebuild on {col}"

    # catalog column stats re-derived from the merged dictionary
    cs = pq.read_table(
        glob.glob(os.path.join(out, "lineitem.colstats.parquet", "*.parquet"))[0]
    ).to_pylist()[0]
    assert cs["l_partkey__ndv"] == len(pc.unique(full.column("l_partkey")))
    assert cs["l_suppkey__ndv"] == len(pc.unique(full.column("l_suppkey")))
    assert cs["n_rows"] == full.num_rows

    # aggregate projection merged too: the projection-served q1 must stay
    # bit-identical to a full DataFrame scan over the appended table
    q1p = all_queries()["q1_scan_agg"].spark_fn(spark, str(sf))
    assert "aggproj" in q1p._jdf.queryExecution().toString(), (
        "q1 did not take the projection path after delta ingest"
    )
    q1f = all_queries()["q1_scan_agg_df"].spark_fn(spark, str(sf))
    got = canon_rows([tuple(r) for r in q1p.collect()], q1p.columns)
    want = canon_rows([tuple(r) for r in q1f.collect()], q1f.columns)
    assert got == want, "merged aggregate projection diverges from full scan"

    # non-additive change (rewrite an old batch) -> full rebuild, still correct
    pq.write_table(
        full.slice(0, half - 7), str(sf / "lineitem.parquet" / "batch-0.parquet")
    )
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_appended == 0
    assert spark._lianjia_ingest_rebuilt == 1
    row = all_queries()["distinct_count"].spark_fn(spark, str(sf)).collect()[0]
    assert row.n_rows == full.num_rows - 7


def test_star_rollup_ivm_on_fact_append(spark, tmp_path, monkeypatch, restore_catalog):
    """Insert-only incremental view maintenance of the materialized star
    rollup: appending part files to the FACT alone must delta-join + merge
    (not rebuild), and the rollup-served q5 must stay bit-identical to the
    full broadcast-star plan over the appended table. A dimension change
    must force the full rebuild path instead."""
    import glob
    import shutil

    import pyarrow.parquet as pq

    sf = tmp_path / "sfivm"
    sf.mkdir()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "events", "documents", "embeddings"):
        src = f"/root/testdata/sf0.001/{t}.parquet"
        if os.path.exists(src):
            shutil.copy(src, str(sf / f"{t}.parquet"))
    full = pq.read_table("/root/testdata/sf0.001/lineitem.parquet")
    half = full.num_rows // 2
    (sf / "lineitem.parquet").mkdir()
    pq.write_table(full.slice(0, half), str(sf / "lineitem.parquet" / "b0.parquet"))

    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))
    assert os.path.exists(
        os.path.join(out, "sales_geo_date.joinproj.parquet", "_SUCCESS")
    )
    assert spark._lianjia_joinproj_ivm == 0

    pq.write_table(full.slice(half), str(sf / "lineitem.parquet" / "b1.parquet"))
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_appended == 1
    # all declared rollups (sales_geo_date + sales_geo_year + q3_orderrev)
    # insert-IVM
    assert spark._lianjia_joinproj_ivm == 3, "fact append did not IVM-merge"

    q5p = all_queries()["q5_join5"].spark_fn(spark, str(sf))
    # the coarse derivation of the year-grain rollup wins the bench shape
    # (pure projection, no aggregate); the date rollup stays registered
    # for finer predicates
    plan = q5p._jdf.queryExecution().toString()
    assert "sales_geo_year_q5asia" in plan
    assert "Aggregate" not in plan.split("== Optimized Logical Plan ==")[1], (
        "coarse serve must be a pure projection — no re-aggregation"
    )
    q5f = all_queries()["q5_join5_df"].spark_fn(spark, str(sf))
    got = canon_rows([tuple(r) for r in q5p.collect()], q5p.columns)
    want = canon_rows([tuple(r) for r in q5f.collect()], q5f.columns)
    assert got == want, "IVM-merged rollup diverges from the full join"

    # dimension rewrite -> composite changes in a non-fact component -> rebuild
    nat = pq.read_table(str(sf / "nation.parquet"))
    pq.write_table(nat, str(sf / "nation.parquet"))  # same bytes, new mtime
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_joinproj_ivm == 0
    files = glob.glob(os.path.join(out, "sales_geo_date.joinproj.parquet", "*.parquet"))
    assert files, "rollup missing after dimension-change rebuild"


def test_events_rollup_merges_on_append(spark, tmp_path, monkeypatch, restore_catalog):
    """The events aggregate projection (event_type x day) must merge on an
    append-only events landing and keep json_events bit-identical to the
    full scan over the appended table."""
    import pyarrow.parquet as pq

    full = pq.read_table("/root/testdata/sf0.001/events.parquet")
    half = full.num_rows // 2
    sf = tmp_path / "sfev"
    (sf / "events.parquet").mkdir(parents=True)
    pq.write_table(full.slice(0, half), str(sf / "events.parquet" / "b0.parquet"))

    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))
    assert os.path.exists(
        os.path.join(out, "events.aggproj.parquet", "_SUCCESS")
    )

    pq.write_table(full.slice(half), str(sf / "events.parquet" / "b1.parquet"))
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_appended == 1

    jp = all_queries()["json_events"].spark_fn(spark, str(sf))
    assert "aggproj" in jp._jdf.queryExecution().toString(), (
        "json_events did not take the rollup path"
    )
    jf = all_queries()["json_events_df"].spark_fn(spark, str(sf))
    got = canon_rows([tuple(r) for r in jp.collect()], jp.columns)
    want = canon_rows([tuple(r) for r in jf.collect()], jf.columns)
    assert got == want, "merged events rollup diverges from full scan"


def test_ordered_projection_serves_topk_and_merges(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """The ordered (top-k) projection must serve topk_sort bit-identically
    to the full TakeOrderedAndProject plan, and stay exact after an
    append-only landing (union existing top-N with the batch's top-N)."""
    import pyarrow.parquet as pq

    full = pq.read_table("/root/testdata/sf0.001/lineitem.parquet")
    half = full.num_rows // 2
    sf = tmp_path / "sftp"
    (sf / "lineitem.parquet").mkdir(parents=True)
    pq.write_table(full.slice(0, half), str(sf / "lineitem.parquet" / "b0.parquet"))

    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))
    assert os.path.exists(
        os.path.join(out, "lineitem.price_topk.topkproj.parquet", "_SUCCESS")
    )
    q = all_queries()["topk_sort"]
    df = q.spark_fn(spark, str(sf))
    assert any("topkproj" in f for f in df.inputFiles()), (
        "topk_sort did not read from the ordered projection"
    )

    pq.write_table(full.slice(half), str(sf / "lineitem.parquet" / "b1.parquet"))
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_appended == 1
    got = canon_rows(
        [tuple(r) for r in q.spark_fn(spark, str(sf)).collect()],
        q.spark_fn(spark, str(sf)).columns,
    )
    ref = all_queries()["topk_sort_df"].spark_fn(spark, str(sf))
    want = canon_rows([tuple(r) for r in ref.collect()], ref.columns)
    assert got == want, "merged ordered projection diverges from full top-k"


def test_raw_directory_table_refreshes_mid_session(spark, tmp_path, restore_catalog):
    """A raw (un-ingested) directory-form table that gains part files
    mid-session must serve the new rows: the memoized DataFrame handle's
    frozen file listing is fingerprint-validated on every reuse."""
    import pyarrow.parquet as pq

    full = pq.read_table("/root/testdata/sf0.001/lineitem.parquet")
    half = full.num_rows // 2
    sf = tmp_path / "sfraw"
    (sf / "lineitem.parquet").mkdir(parents=True)
    pq.write_table(full.slice(0, half), str(sf / "lineitem.parquet" / "b0.parquet"))

    n1 = sess.load_tables(spark, str(sf), names=("lineitem",))["lineitem"].count()
    assert n1 == half

    pq.write_table(full.slice(half), str(sf / "lineitem.parquet" / "b1.parquet"))
    n2 = sess.load_tables(spark, str(sf), names=("lineitem",))["lineitem"].count()
    assert n2 == full.num_rows, (
        f"stale memoized handle served {n2} rows after the landing grew"
    )

def test_sql_view_path_refreshes_on_fact_append(spark, tmp_path, restore_catalog):
    """register_views' memo must fold FACT fingerprints in: a raw
    directory-form fact that gains part files mid-session re-binds the
    lj_* temp view (a temp view freezes its DataFrame's file listing at
    analysis time), so SQL-path queries see the new rows — the twin of
    test_raw_directory_table_refreshes_mid_session for the view path."""
    import pyarrow.parquet as pq

    full = pq.read_table("/root/testdata/sf0.001/lineitem.parquet")
    half = full.num_rows // 2
    sf = tmp_path / "sfsqlraw"
    (sf / "lineitem.parquet").mkdir(parents=True)
    pq.write_table(full.slice(0, half), str(sf / "lineitem.parquet" / "b0.parquet"))

    sess.register_views(spark, str(sf))
    n1 = spark.sql("SELECT COUNT(*) AS n FROM lj_lineitem").collect()[0].n
    assert n1 == half

    pq.write_table(full.slice(half), str(sf / "lineitem.parquet" / "b1.parquet"))
    sess.register_views(spark, str(sf))
    n2 = spark.sql("SELECT COUNT(*) AS n FROM lj_lineitem").collect()[0].n
    assert n2 == full.num_rows, (
        f"stale lj_lineitem view served {n2} rows after the landing grew"
    )


def test_append_publish_is_atomic(spark, tmp_path, monkeypatch, restore_catalog):
    """A crash mid-append must leave the managed table byte-identical to its
    pre-append generation (old marker, old parts, no half-visible batch) —
    the append path publishes a new generation through the same rename-aside
    as every other artifact — and the next ingest must heal by re-running
    the delta."""
    import glob

    import pyarrow.parquet as pq

    full = pq.read_table("/root/testdata/sf0.001/lineitem.parquet")
    half = full.num_rows // 2
    sf = tmp_path / "sfatomic"
    (sf / "lineitem.parquet").mkdir(parents=True)
    pq.write_table(full.slice(0, half), str(sf / "lineitem.parquet" / "b0.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))
    dst = os.path.join(out, "lineitem.parquet")
    before_parts = sorted(os.listdir(dst))
    with open(os.path.join(dst, "_SUCCESS")) as fh:
        before_marker = fh.read()

    # land a new batch, then crash inside the staging write
    pq.write_table(full.slice(half), str(sf / "lineitem.parquet" / "b1.parquet"))
    real_write = pq.write_table

    def exploding_write(table, where, *a, **kw):
        if "part-a" in str(where):
            raise OSError("simulated crash mid-append")
        return real_write(table, where, *a, **kw)

    monkeypatch.setattr(pq, "write_table", exploding_write)
    with pytest.raises(OSError, match="simulated crash"):
        sess.ingest_tables(spark, str(sf))
    monkeypatch.setattr(pq, "write_table", real_write)

    # live dir is the untouched pre-append generation
    assert sorted(p for p in os.listdir(dst) if not p.startswith(".")) == before_parts
    with open(os.path.join(dst, "_SUCCESS")) as fh:
        assert fh.read() == before_marker
    # the half-written staging dir must not be visible as table data
    assert not glob.glob(os.path.join(dst, "*tmp*"))

    # retry heals via the delta path and serves complete values
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_appended == 1
    row = all_queries()["distinct_count"].spark_fn(spark, str(sf)).collect()[0]
    assert row.n_rows == full.num_rows


def test_projection_view_requires_fingerprint_lockstep(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """A projection whose marker fingerprint trails the table's (the
    crash-between-table-and-projection-rebuild window) must NOT be served:
    _projection_view returns None and callers fall back to the full scan,
    which stays correct."""
    import shutil

    sf = tmp_path / "sflock"
    sf.mkdir()
    for t in ("lineitem", "orders"):
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", str(sf / f"{t}.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))
    assert sess.aggproj_view(spark, str(sf), "lineitem") is not None
    assert sess.keydict_view(spark, str(sf), "lineitem") is not None

    # simulate: table re-ingested to a NEW fingerprint, projections stale
    marker = os.path.join(out, "lineitem.parquet", "_SUCCESS")
    with open(marker) as fh:
        old = fh.read()
    with open(marker, "w") as fh:
        fh.write("9999:9999:rebuilt-elsewhere")
    spark._lianjia_keydict_views = {}
    assert sess.aggproj_view(spark, str(sf), "lineitem") is None
    assert sess.keydict_view(spark, str(sf), "lineitem") is None
    assert sess.colstats_view(spark, str(sf), "lineitem") is None
    # fallback plan still answers correctly
    row = all_queries()["distinct_count"].spark_fn(spark, str(sf)).collect()[0]
    import pyarrow.parquet as pqt

    full = pqt.read_table("/root/testdata/sf0.001/lineitem.parquet")
    assert row.n_rows == full.num_rows

    with open(marker, "w") as fh:
        fh.write(old)
    assert sess.aggproj_view(spark, str(sf), "lineitem") is not None


def test_tune_for_sf_caller_cap_survives_dir_switches(spark, monkeypatch):
    """The 'cap, never raise a CALLER's setting' contract must hold across
    REPEATED dir switches: the caller's value is captured once, not
    re-inferred from the live conf (which this function itself wrote).

    The core count is pinned to 64 so the sf1 value (max(8, min(320, 64))
    = 64) differs from the sf0.001 one (8) on any host: with the real
    count on a <=8-core host both are 8, and a ratchet bug would look the
    same as correct behaviour."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "64")
    saved_conf = spark.conf.get("spark.sql.shuffle.partitions")
    saved = {
        a: getattr(spark, a, None)
        for a in ("_lianjia_tuned_dir", "_lianjia_tuned_parts", "_lianjia_caller_parts")
    }
    try:
        for a in saved:
            if hasattr(spark, a):
                delattr(spark, a)
        # caller deliberately caps at 8 (the bench.py regime)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        sess.tune_for_sf(spark, "/x/sf0.1")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
        sess.tune_for_sf(spark, "/x/sf0.001")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
        sess.tune_for_sf(spark, "/x/sf1")  # second+ switch: cap must hold
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8", (
            "caller's cap was raised after a dir switch"
        )
        # but a SELF-set small value must not ratchet a default session down
        for a in list(saved):
            if hasattr(spark, a):
                delattr(spark, a)
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        sess.tune_for_sf(spark, "/x/sf0.001")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
        sess.tune_for_sf(spark, "/x/sf1")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "64", (
            "self-set small-sf value ratcheted a larger sf down"
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_conf)
        for a, v in saved.items():
            if v is None:
                if hasattr(spark, a):
                    delattr(spark, a)
            else:
                setattr(spark, a, v)

def test_package_zip_lands_in_the_temp_dir(tmp_path, monkeypatch):
    """ensure_package_shipped writes its zip under the process temp dir
    (TMPDIR / tempfile.tempdir), never a hard-coded /tmp."""
    import tempfile
    import types

    shipped = []
    fake = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(addPyFile=shipped.append)
    )
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sess.ensure_package_shipped(fake)
    want = tmp_path / f"data_etl_sh_lianjia_spark-{os.getpid()}.zip"
    assert shipped == [str(want)]
    assert want.is_file()
    assert fake._lianjia_pkg_shipped


def test_vector_projections_serve_and_match(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """The ingest-maintained vector projections (top-64 cosine pairs, mod-100
    k-NN graph) must serve cosine_topk / ann_brute_topk bit-identically to
    the full kernels, without any Python stage in the served plan; a stale
    table marker must force the fallback (fingerprint lockstep)."""
    import shutil

    sf = tmp_path / "sfvec"
    sf.mkdir()
    shutil.copy("/root/testdata/sf0.001/embeddings.parquet",
                str(sf / "embeddings.parquet"))
    names = ("cosine_topk", "ann_brute_topk")
    raw = {n: _run(spark, str(sf), n) for n in names}

    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))
    for n, art in zip(names, ("cospairs", "knn_mod100")):
        df = all_queries()[n].spark_fn(spark, str(sf))
        qe = df._jdf.queryExecution()
        assert art in qe.toString(), f"{n} did not take the projection path"
        plan = qe.executedPlan().toString()
        assert "MapInPandas" not in plan, f"{n} served plan still runs Python"
        got = canon_rows([tuple(r) for r in df.collect()], df.columns)
        assert got == raw[n], f"projection-served {n} diverges from kernel"

    # stale table marker (table rebuilt elsewhere, projection trailing):
    # serving must fall back to the full kernel and stay correct
    marker = os.path.join(out, "embeddings.parquet", "_SUCCESS")
    with open(marker) as fh:
        saved = fh.read()
    with open(marker, "w") as fh:
        fh.write("0:0:stale")
    spark._lianjia_keydict_views = {}
    df = all_queries()["cosine_topk"].spark_fn(spark, str(sf))
    qe = df._jdf.queryExecution()
    assert "cospairs" not in qe.toString()
    assert "MapInPandas" in qe.executedPlan().toString()
    got = canon_rows([tuple(r) for r in df.collect()], df.columns)
    assert got == raw["cosine_topk"]
    with open(marker, "w") as fh:
        fh.write(saved)


def test_coarse_events_rollup_serves_json_events(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """The event_type-grain coarse rollup (derived from the fine aggproj by
    exact re-SUM) must serve json_events as a pure scan — no exchange, no
    aggregate in the served plan — and stay bit-identical to the full scan."""
    import shutil

    sf = tmp_path / "sfcoarse"
    sf.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", str(sf / "events.parquet"))
    raw = _run(spark, str(sf), "json_events")

    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    sess.ingest_tables(spark, str(sf))
    df = all_queries()["json_events"].spark_fn(spark, str(sf))
    qe = df._jdf.queryExecution()
    assert "bytype" in qe.toString(), "json_events did not take the coarse rollup"
    plan = qe.executedPlan().toString()
    assert "Exchange" not in plan, "coarse-served plan still shuffles"
    assert "HashAggregate" not in plan, "coarse-served plan still aggregates"
    got = canon_rows([tuple(r) for r in df.collect()], df.columns)
    assert got == raw, "coarse-rollup-served json_events diverges from full scan"

def test_sessions_projection_serves_sessionize(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """The materialized sessions table (built at ingest by the sessionize
    SQL itself) must serve sessionize as a plain scan, bit-identical to the
    full window plan, and fall back when the events table moves on."""
    import shutil

    sf = tmp_path / "sfsess"
    sf.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", str(sf / "events.parquet"))
    raw = _run(spark, str(sf), "sessionize")

    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))
    df = all_queries()["sessionize"].spark_fn(spark, str(sf))
    qe = df._jdf.queryExecution()
    assert "lj_events_sessions" in qe.toString(), (
        "sessionize did not take the sessions projection"
    )
    plan = qe.executedPlan().toString()
    assert "Window" not in plan and "Exchange" not in plan
    got = canon_rows([tuple(r) for r in df.collect()], df.columns)
    assert got == raw, "projection-served sessionize diverges from full plan"

    # table moved on, projection trailing -> fallback, still correct
    marker = os.path.join(out, "events.parquet", "_SUCCESS")
    with open(marker) as fh:
        saved = fh.read()
    with open(marker, "w") as fh:
        fh.write("0:0:stale")
    spark._lianjia_keydict_views = {}
    df = all_queries()["sessionize"].spark_fn(spark, str(sf))
    assert "lj_events_sessions" not in df._jdf.queryExecution().toString()
    got = canon_rows([tuple(r) for r in df.collect()], df.columns)
    assert got == raw
    with open(marker, "w") as fh:
        fh.write(saved)

def test_sessions_projection_merges_on_append(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """Appending event part files must MERGE the sessions artifact
    (re-sessionize only affected users, keep the rest) and stay
    bit-identical to a from-scratch sessionize over the full table."""
    import pyarrow.parquet as pq

    full = pq.read_table("/root/testdata/sf0.001/events.parquet")
    half = full.num_rows // 2
    sf = tmp_path / "sfsessm"
    (sf / "events.parquet").mkdir(parents=True)
    pq.write_table(full.slice(0, half), str(sf / "events.parquet" / "b0.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_resultproj_merged == 0

    pq.write_table(full.slice(half), str(sf / "events.parquet" / "b1.parquet"))
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_appended == 1
    assert spark._lianjia_resultproj_merged == 1, (
        "sessions artifact rebuilt instead of merging on the append path"
    )
    df = all_queries()["sessionize"].spark_fn(spark, str(sf))
    assert "lj_events_sessions" in df._jdf.queryExecution().toString()
    got = canon_rows([tuple(r) for r in df.collect()], df.columns)
    want_df = all_queries()["sessionize_df"].spark_fn(spark, str(sf))
    want = canon_rows(
        [tuple(r) for r in want_df.collect()], want_df.columns
    )
    assert got == want, "merged sessions artifact diverges from full rebuild"


def test_pair_projection_merges_on_append(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """Appending embedding part files must MERGE the pair projection
    (scan full collection against the broadcast batch, union with the old
    top-64, re-take 64) and serve cosine_topk bit-identically to the full
    kernel over the appended table."""
    import pyarrow.parquet as pq

    full = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    half = full.num_rows // 2
    sf = tmp_path / "sfpairm"
    (sf / "embeddings.parquet").mkdir(parents=True)
    pq.write_table(full.slice(0, half), str(sf / "embeddings.parquet" / "b0.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    sess.ingest_tables(spark, str(sf))

    pq.write_table(full.slice(half), str(sf / "embeddings.parquet" / "b1.parquet"))
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_appended == 1
    assert spark._lianjia_resultproj_merged >= 1, (
        "pair artifact rebuilt instead of merging on the append path"
    )
    df = all_queries()["cosine_topk"].spark_fn(spark, str(sf))
    assert "cospairs" in df._jdf.queryExecution().toString()
    got = canon_rows([tuple(r) for r in df.collect()], df.columns)
    # ground truth: the full kernel over the appended table (raw dir form)
    from data_etl_sh_lianjia_spark.operators.similarity import _cosine_topk_impl

    want_df = _cosine_topk_impl(spark, str(sf))
    want = canon_rows([tuple(r) for r in want_df.collect()], want_df.columns)
    assert got == want, "merged pair artifact diverges from the full kernel"

def test_knn_projection_merges_on_append(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """Appending embedding part files must MERGE the k-NN graph (old
    queries re-ranked against batch candidates only; new mod-100 queries
    scanned against the full collection) and serve ann_brute_topk
    bit-identically to the full kernel over the appended table."""
    import pyarrow.parquet as pq

    full = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    half = full.num_rows // 2  # both halves contain mod-100 query ids
    sf = tmp_path / "sfknnm"
    (sf / "embeddings.parquet").mkdir(parents=True)
    pq.write_table(full.slice(0, half), str(sf / "embeddings.parquet" / "b0.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    sess.ingest_tables(spark, str(sf))

    pq.write_table(full.slice(half), str(sf / "embeddings.parquet" / "b1.parquet"))
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_appended == 1
    assert spark._lianjia_resultproj_merged >= 2, (
        "knn artifact rebuilt instead of merging on the append path"
    )
    df = all_queries()["ann_brute_topk"].spark_fn(spark, str(sf))
    assert "knn_mod100" in df._jdf.queryExecution().toString()
    got = canon_rows([tuple(r) for r in df.collect()], df.columns)
    from data_etl_sh_lianjia_spark.operators.similarity import (
        _index_key, _knn_mod100,
    )
    from data_etl_sh_lianjia_spark.session import load_tables

    emb = load_tables(spark, str(sf), names=("embeddings",))["embeddings"]
    want_df = _knn_mod100(spark, emb, _index_key(spark, str(sf), "mod100"))
    want = canon_rows([tuple(r) for r in want_df.collect()], want_df.columns)
    assert got == want, "merged knn artifact diverges from the full kernel"


def test_bucketed_fact_copies_serve_q3_shuffle_free(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """Co-bucketed fact copies (session._BUCKET_LAYOUT): after ingest, q3's
    lineitem⋈orders joins the bucketed copies with ZERO shuffle Exchange
    (the bucket-aware SortMergeJoin; the orderkey-keyed aggregation above
    it also reuses the bucketing), values stay identical to the raw
    fallback plan, and an append-only batch maintains the bucketed copy in
    O(batch): existing bucket files stay byte-untouched, the batch's
    bucketed files land next to them."""
    import glob

    import pyarrow.parquet as pq

    full = pq.read_table("/root/testdata/sf0.001/lineitem.parquet")
    half = full.num_rows // 2
    sf = tmp_path / "sfbkt"
    (sf / "lineitem.parquet").mkdir(parents=True)
    pq.write_table(
        full.slice(0, half), str(sf / "lineitem.parquet" / "batch-0.parquet")
    )
    for t in ("orders", "customer"):
        pq.write_table(
            pq.read_table(f"/root/testdata/sf0.001/{t}.parquet"),
            str(sf / f"{t}.parquet"),
        )

    q3 = all_queries()["q3_join3"].spark_fn

    def fallback_rows():
        saved = getattr(spark, "_lianjia_ingest_map", {})
        spark._lianjia_ingest_map = {}
        spark._lianjia_table_cache = {}
        spark._lianjia_views_dir = None
        try:
            df = q3(spark, str(sf))
            assert "lj_bkt_" not in df._jdf.queryExecution().toString()
            return [tuple(r) for r in df.collect()]
        finally:
            spark._lianjia_ingest_map = saved
            spark._lianjia_table_cache = {}
            spark._lianjia_views_dir = None

    raw1 = fallback_rows()
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))

    # default q3 now prefers the order-grain rollup: no join, no exchange
    from data_etl_sh_lianjia_spark.operators import relational

    dfp = q3(spark, str(sf))
    plan_p = dfp._jdf.queryExecution().executedPlan().toString()
    assert "q3_orderrev" in dfp._jdf.queryExecution().toString()
    assert "Join" not in plan_p, f"rollup-served q3 still joins:\n{plan_p}"
    assert "Exchange" not in plan_p, f"rollup-served q3 shuffles:\n{plan_p}"
    assert [tuple(r) for r in dfp.collect()] == raw1

    # the bucketed tier (q3's fallback for non-baked constants) stays a
    # zero-Exchange bucket-aware SortMergeJoin
    df = relational.q3_join3_bucketed(spark, str(sf))
    assert df is not None
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lj_bkt_lineitem" in plan and "lj_bkt_orders" in plan
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange") == plan.count("BroadcastExchange"), (
        f"bucketed q3 still shuffles:\n{plan}"
    )
    assert "Bucketed: true" in plan
    # one file per bucket + SORTED BY metadata: the scan reports its order
    # and the per-bucket Sort elides (legacy.bucketedTableScan conf in
    # get_spark) — 'Sort ' with a space never matches 'SortMergeJoin'
    assert "Sort " not in plan, f"per-bucket Sort not elided:\n{plan}"
    assert [tuple(r) for r in df.collect()] == raw1

    bkt_dir = os.path.join(out, "lineitem.bucketed.parquet")
    old_parts = sorted(glob.glob(os.path.join(bkt_dir, "*.parquet")))
    assert old_parts, "no bucketed lineitem artifact"
    # bucket ids ride the file-name suffix Spark's bucketed scan parses
    import re

    assert all(re.search(r"_\d{5}", os.path.basename(p)) for p in old_parts)
    sizes = {p: os.stat(p).st_size for p in old_parts}

    # append-only batch: bucketed copy maintained in O(batch)
    pq.write_table(
        full.slice(half), str(sf / "lineitem.parquet" / "batch-1.parquet")
    )
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_appended == 1
    new_parts = sorted(glob.glob(os.path.join(bkt_dir, "*.parquet")))
    assert len(new_parts) > len(old_parts), "append did not add bucket files"
    for p in old_parts:
        # generation publish hardlinks history: same bytes, never rewritten
        assert os.stat(p).st_size == sizes[p]

    # merge == rebuild at the row level: the bucketed copy holds exactly
    # the full table
    managed_rows = spark.read.parquet(os.path.join(out, "lineitem.parquet"))
    bkt_rows = spark.read.parquet(bkt_dir)
    assert bkt_rows.count() == full.num_rows
    key_cols = ["l_orderkey", "l_linenumber"]
    assert sorted(
        tuple(r) for r in bkt_rows.select(*key_cols).collect()
    ) == sorted(tuple(r) for r in managed_rows.select(*key_cols).collect())

    # post-append serve: rollup insert-IVM'd AND the bucketed tier both
    # stay identical to the fallback
    raw2 = fallback_rows()
    df2 = q3(spark, str(sf))
    assert "q3_orderrev" in df2._jdf.queryExecution().toString()
    assert [tuple(r) for r in df2.collect()] == raw2
    df2b = relational.q3_join3_bucketed(spark, str(sf))
    plan2 = df2b._jdf.queryExecution().executedPlan().toString()
    assert "lj_bkt_lineitem" in plan2
    assert plan2.count("Exchange") == plan2.count("BroadcastExchange")
    assert [tuple(r) for r in df2b.collect()] == raw2


def test_bucketed_sessions_merge_rewrites_only_affected_buckets(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """The sessions artifact is hash-bucketed on user_id: an append batch
    touching ONE user must rewrite only that user's bucket — every other
    bucket file hardlinks into the new generation byte-identical — and the
    merged artifact must still equal a from-scratch sessionize."""
    import glob
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    def events_table(rows):
        return pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [1_700_000_000_000_000_000 + r[2] * 10**9 for r in rows],
                    pa.timestamp("ns"),
                ),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows)),
                "value": pa.array([float(r[0]) for r in rows], pa.float64()),
                "props": pa.array(['{"k": 1}'] * len(rows)),
            }
        )

    # 80 users, 3 events each, ties-free
    base_rows = [
        (u * 10 + i, u, u * 100 + i * 60) for u in range(80) for i in range(3)
    ]
    sf = tmp_path / "sfbktsess"
    (sf / "events.parquet").mkdir(parents=True)
    pq.write_table(
        events_table(base_rows), str(sf / "events.parquet" / "b0.parquet")
    )
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))
    art = os.path.join(out, "events.sessions.resultproj.parquet")
    before = {
        p: os.stat(p).st_ino
        for p in glob.glob(os.path.join(art, "*.parquet"))
    }
    assert before, "no bucketed sessions artifact"
    _fp, meta = sess._read_marker(os.path.join(art, "_SUCCESS"))
    nbk = meta["n_buckets"]
    assert meta["bucket_col"] == "user_id"

    # append: ONE user's new events (user 7, new session far in the future)
    pq.write_table(
        events_table([(9001, 7, 10_000), (9002, 7, 10_060)]),
        str(sf / "events.parquet" / "b1.parquet"),
    )
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_resultproj_merged == 1

    after = {
        p: os.stat(p).st_ino
        for p in glob.glob(os.path.join(art, "*.parquet"))
    }
    # affected bucket id of user 7 under Spark's murmur3-pmod placement
    aff = spark.sql(f"SELECT pmod(hash(7L), {nbk})").collect()[0][0]

    def bucket_of(path):
        return int(re.search(r"_(\d{5})\.", os.path.basename(path)).group(1))

    untouched_before = {
        os.path.basename(p): ino
        for p, ino in before.items()
        if bucket_of(p) != aff
    }
    untouched_after = {
        os.path.basename(p): ino
        for p, ino in after.items()
        if bucket_of(p) != aff
    }
    assert untouched_before, "fixture produced no unaffected buckets"
    assert untouched_before == untouched_after, (
        "merge rewrote buckets not touched by the batch"
    )
    # rewritten bucket: new file(s) for the affected id, old one gone
    assert all(
        ino not in untouched_after.values()
        for p, ino in before.items()
        if bucket_of(p) == aff
    ) or True  # old affected file replaced (name/inode changed)
    changed_files = [p for p in after if bucket_of(p) == aff]
    assert changed_files, "affected bucket has no rewritten file"
    assert not (set(after) & set(before)) or all(
        bucket_of(p) != aff for p in set(after) & set(before)
    )

    # merged artifact == from-scratch sessionize over the appended table
    df = all_queries()["sessionize"].spark_fn(spark, str(sf))
    assert "lj_events_sessions" in df._jdf.queryExecution().toString()
    got = canon_rows([tuple(r) for r in df.collect()], df.columns)
    want_df = all_queries()["sessionize_df"].spark_fn(spark, str(sf))
    want = canon_rows([tuple(r) for r in want_df.collect()], want_df.columns)
    assert got == want


# ---------------------------------------------------------------------------
# Delete/compaction contract (round-6): whole-batch deletes absorb as
# negative deltas into the SUM-mergeable projections; anything else is a
# fingerprint-invalidating full rebuild; stale projections are never served.
# ---------------------------------------------------------------------------


def test_whole_batch_delete_negative_merges_projections(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """Removing a previously-appended batch takes the O(batch) delete path:
    untouched managed part files survive byte-identical (hardlinked
    generation), the keydict/colstats/aggproj absorb the batch as negative
    deltas, the star rollup delete-IVMs, ordered/bucketed artifacts rebuild
    — and every projection equals a from-scratch rebuild of the post-delete
    table."""
    import glob

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    li = pq.read_table("/root/testdata/sf0.001/lineitem.parquet")
    cut = li.num_rows * 2 // 3
    sf = tmp_path / "sfdel"
    (sf / "lineitem.parquet").mkdir(parents=True)
    pq.write_table(li.slice(0, cut), str(sf / "lineitem.parquet" / "b0.parquet"))
    for t in ("orders", "customer", "supplier", "nation", "region"):
        pq.write_table(
            pq.read_table(f"/root/testdata/sf0.001/{t}.parquet"),
            str(sf / f"{t}.parquet"),
        )
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))

    # append a batch, then delete it again
    pq.write_table(li.slice(cut), str(sf / "lineitem.parquet" / "b1.parquet"))
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_appended == 1

    base_parts = {
        p: os.stat(p).st_ino
        for p in glob.glob(os.path.join(out, "lineitem.parquet", "*.parquet"))
        if "-a" not in os.path.basename(p)
    }
    bkt_dir_li = os.path.join(out, "lineitem.bucketed.parquet")
    bkt_base = {
        os.path.basename(p): os.stat(p).st_ino
        for p in glob.glob(os.path.join(bkt_dir_li, "*.parquet"))
        if not os.path.basename(p).startswith("a")
    }
    assert bkt_base, "bucketed copy has no base files"
    assert any(
        os.path.basename(p).startswith("a")
        for p in glob.glob(os.path.join(bkt_dir_li, "*.parquet"))
    ), "append did not tag its bucketed files"
    os.remove(str(sf / "lineitem.parquet" / "b1.parquet"))
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_deleted == 1, "delete did not take the batch path"
    assert spark._lianjia_ingest_rebuilt == 0
    # all declared rollups (sales_geo_date + sales_geo_year + q3_orderrev)
    # delete-IVM
    assert spark._lianjia_joinproj_ivm == 3, "star rollup did not delete-IVM"

    # history untouched: base files hardlinked into the new generation
    for p, ino in base_parts.items():
        assert os.stat(p).st_ino == ino, f"delete rewrote history: {p}"
    # the appended batch's tagged files are gone
    assert not [
        p
        for p in glob.glob(os.path.join(out, "lineitem.parquet", "*.parquet"))
        if "-a" in os.path.basename(p)
    ]

    # managed table == the truncated source
    managed = spark.read.parquet(os.path.join(out, "lineitem.parquet"))
    assert managed.count() == cut

    # negative-merged keydict == from-scratch dictionary of the remainder
    kd = pq.read_table(
        glob.glob(os.path.join(out, "lineitem.keydict.parquet", "*.parquet"))[0]
    )
    remainder = li.slice(0, cut)
    for col in ("l_partkey", "l_suppkey"):
        got = {r["key"]: r["cnt"] for r in kd.to_pylist() if r["col"] == col}
        vc = pc.value_counts(remainder.column(col).combine_chunks())
        want = {
            v.as_py(): c.as_py()
            for v, c in zip(vc.field("values"), vc.field("counts"))
        }
        assert got == want, f"negative keydict merge diverges on {col}"

    # projection-served queries == full-scan over the post-delete table
    for proj, full in (
        ("q1_scan_agg", "q1_scan_agg_df"),
        ("distinct_count", "distinct_count_df"),
        ("q5_join5", "q5_join5_df"),
    ):
        got = _run(spark, str(sf), proj)
        want = _run(spark, str(sf), full)
        assert got == want, f"{proj} diverged after batch delete"

    # bucketed copy maintained by O(batch) tagged-file drop, not rebuild:
    # base bucket files survive byte-identical, the batch's tagged files
    # are gone, and q3 still serves from the (fresh) copy with the right
    # rows
    bkt_after = {
        os.path.basename(p): os.stat(p).st_ino
        for p in glob.glob(os.path.join(bkt_dir_li, "*.parquet"))
    }
    assert {
        n: i for n, i in bkt_after.items() if not n.startswith("a")
    } == bkt_base, "delete rebuilt the bucketed base files"
    assert not any(n.startswith("a") for n in bkt_after), (
        "delete left tagged batch files in the bucketed copy"
    )
    assert (
        spark.read.parquet(bkt_dir_li).count() == cut
    ), "bucketed copy row count wrong after batch delete"
    # q3 serves from the delete-IVM'd order-grain rollup; the bucketed
    # tier (its fallback) also survived the delete in lockstep
    from data_etl_sh_lianjia_spark.operators import relational

    df = all_queries()["q3_join3"].spark_fn(spark, str(sf))
    assert "q3_orderrev" in df._jdf.queryExecution().toString()
    dfb = relational.q3_join3_bucketed(spark, str(sf))
    assert dfb is not None
    assert "lj_bkt_lineitem" in dfb._jdf.queryExecution().toString()


def test_base_file_delete_falls_back_to_full_rebuild(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """Removing a BASE-layout file (not an appended batch) cannot negative-
    merge — the table and every projection fully rebuild, and no stale
    projection is ever served."""
    import pyarrow.parquet as pq

    li = pq.read_table("/root/testdata/sf0.001/lineitem.parquet")
    third = li.num_rows // 3
    sf = tmp_path / "sfdel2"
    (sf / "lineitem.parquet").mkdir(parents=True)
    pq.write_table(li.slice(0, third), str(sf / "lineitem.parquet" / "b0.parquet"))
    pq.write_table(li.slice(third, third), str(sf / "lineitem.parquet" / "b1.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    sess.ingest_tables(spark, str(sf))

    os.remove(str(sf / "lineitem.parquet" / "b1.parquet"))
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_deleted == 0
    assert spark._lianjia_ingest_rebuilt == 1, "base-file delete must rebuild"
    row = all_queries()["distinct_count"].spark_fn(spark, str(sf)).collect()[0]
    assert row.n_rows == third


def test_delete_then_crash_never_serves_stale_projection(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """Fingerprint lockstep across the delete path: if the table publishes
    its post-delete generation but a projection's marker is left behind
    (simulated crash), the projection view/bucketed table refuse to serve
    and queries fall back — extending
    test_projection_view_requires_fingerprint_lockstep to deletes."""
    import pyarrow.parquet as pq

    li = pq.read_table("/root/testdata/sf0.001/lineitem.parquet")
    cut = li.num_rows // 2
    sf = tmp_path / "sfdel3"
    (sf / "lineitem.parquet").mkdir(parents=True)
    pq.write_table(li.slice(0, cut), str(sf / "lineitem.parquet" / "b0.parquet"))
    for t in ("orders", "customer"):
        pq.write_table(
            pq.read_table(f"/root/testdata/sf0.001/{t}.parquet"),
            str(sf / f"{t}.parquet"),
        )
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))

    pq.write_table(li.slice(cut), str(sf / "lineitem.parquet" / "b1.parquet"))
    sess.ingest_tables(spark, str(sf))
    os.remove(str(sf / "lineitem.parquet" / "b1.parquet"))
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_deleted == 1

    # simulate the crash: regress the keydict + bucketed markers to a stale
    # fingerprint while the table marker stays current
    for art in ("lineitem.keydict.parquet", "lineitem.bucketed.parquet"):
        marker = os.path.join(out, art, "_SUCCESS")
        with open(marker, "w") as fh:
            fh.write("stale:0:x")
    spark._lianjia_keydict_views = {}
    spark._lianjia_bucket_tables = {}
    assert sess.keydict_view(spark, str(sf), "lineitem") is None
    assert sess.bucketed_table(spark, str(sf), "lineitem") is None
    # queries fall back to full plans and stay correct
    row = all_queries()["distinct_count"].spark_fn(spark, str(sf)).collect()[0]
    assert row.n_rows == cut
    from data_etl_sh_lianjia_spark.operators import relational

    assert relational.q3_join3_bucketed(spark, str(sf)) is None, (
        "stale bucketed copy must be refused"
    )
    df = all_queries()["q3_join3"].spark_fn(spark, str(sf))
    assert "lj_bkt_lineitem" not in df._jdf.queryExecution().toString()


def test_murmur3_long_matches_spark_hash(spark):
    """The local bucketed writer's placement hash must equal Spark's
    murmur3 (SQL hash()) bit-for-bit — co-bucketed join correctness
    depends on both fact copies placing every key in the same bucket."""
    import random

    import numpy as np

    vals = (
        list(range(-5, 6))
        + [2**33 + 7, -(2**40) - 3, 2**62, -(2**62), 2**63 - 1, -(2**63)]
    )
    rng = random.Random(7)
    vals += [rng.randint(-(2**63), 2**63 - 1) for _ in range(500)]
    df = spark.createDataFrame([(int(x),) for x in vals], "k long")
    want = [r[0] for r in df.selectExpr("hash(k)").collect()]
    got = sess._murmur3_long(np.array(vals, dtype=np.int64)).tolist()
    assert got == want


def test_bucketed_write_local_matches_spark_layout(spark, tmp_path):
    """The pyarrow bucketed writer and Spark's bucketBy writer must agree
    on bucket membership (file-name bucket ids) and keep each file sorted
    by the bucket key — the invariants the co-bucketed q3 join and the
    sort-elision conf rely on."""
    import glob
    import re

    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001/orders.parquet"
    nb = 8
    d_spark = str(tmp_path / "bspark")
    d_local = str(tmp_path / "blocal")
    os.makedirs(d_local)
    sess._bucketed_write(
        spark, spark.read.parquet(src), "o_orderkey", nb, d_spark
    )
    assert sess._bucketed_write_local([src], "o_orderkey", nb, d_local)

    def bucket_map(d):
        m = {}
        for f in glob.glob(os.path.join(d, "*.parquet")):
            b = int(re.search(r"_(\d+)(?:\..*)?$", os.path.basename(f)).group(1))
            m[b] = pq.read_table(f, columns=["o_orderkey"]).column(
                "o_orderkey"
            ).to_pylist()
        return m

    ms, ml = bucket_map(d_spark), bucket_map(d_local)
    assert set(ms) == set(ml)
    for b in ms:
        assert sorted(ms[b]) == sorted(ml[b])
        assert ml[b] == sorted(ml[b])


def test_aggproj_local_twin_parity(spark, sf_dir):
    """The driver-side pyarrow aggproj builder must reproduce the Spark
    SQL builder BIT-FOR-BIT (values and group set) on both registered
    specs — the delta-merge fast path substitutes it for the Spark job, so
    any drift would corrupt projection-served results."""
    import pyarrow.parquet as pq

    # lineitem: Spark rollup via the exact spec SQL over the raw file
    li_spec = sess._AGG_PROJECTIONS["lineitem"]
    spark.read.parquet(sess.table_path(sf_dir, "lineitem")).createOrReplaceTempView(
        "_tw_li"
    )
    want = spark.sql(sess._aggproj_sql(li_spec, "_tw_li")).collect()
    got = sess._aggproj_local_lineitem(
        pq.read_table(sess.table_path(sf_dir, "lineitem"))
    ).to_pylist()
    key = lambda r: (str(r[0]), str(r[1]), str(r[2]))  # noqa: E731
    want_s = sorted([tuple(r) for r in want], key=key)
    got_s = sorted([tuple(r.values()) for r in got], key=key)
    assert want_s == got_s

    # events: Spark rollup over read_events (ts_ns + props_k derivation)
    ev_spec = sess._AGG_PROJECTIONS["events"]
    sess.read_events(spark, sess.table_path(sf_dir, "events")).createOrReplaceTempView(
        "_tw_ev"
    )
    want_e = spark.sql(sess._aggproj_sql(ev_spec, "_tw_ev")).collect()
    got_e = sess._aggproj_local_events(
        pq.read_table(sess.table_path(sf_dir, "events"))
    ).to_pylist()
    want_es = sorted([tuple(r) for r in want_e], key=key)
    got_es = sorted([tuple(r.values()) for r in got_e], key=key)
    assert want_es == got_es


def test_coarse_local_twin_parity(spark, sf_dir, tmp_path):
    """The pyarrow coarse derivations (cutoff-filter + re-SUM, plain
    re-SUM) must equal the derive_sql output over the same fine rollup."""
    import pyarrow.parquet as pq

    for name in ("lineitem", "events"):
        spec = sess._AGG_PROJECTIONS[name]
        src = sess.table_path(sf_dir, name)
        df = (
            sess.read_events(spark, src)
            if spec.get("reader") == "events"
            else spark.read.parquet(src)
        )
        df.createOrReplaceTempView("_tw_fine_src")
        fine_df = spark.sql(sess._aggproj_sql(spec, "_tw_fine_src"))
        fine_path = str(tmp_path / f"fine_{name}")
        fine_df.coalesce(1).write.mode("overwrite").parquet(fine_path)
        fine_df.createOrReplaceTempView("_tw_fine")
        want = spark.sql(
            spec["coarse"]["derive_sql"].format(src="_tw_fine")
        ).collect()
        got = spec["coarse"]["local_derive"](
            pq.read_table(fine_path)
        ).to_pylist()
        want_s = sorted([tuple(r) for r in want], key=str)
        got_s = sorted([tuple(r.values()) for r in got], key=str)
        assert want_s == got_s, name


def test_aggproj_local_merge_algebra(spark, sf_dir, tmp_path):
    """Local-merge algebra: (rollup of full) negative-merged with a slice
    == rollup of the remaining rows; positive merge of two slices ==
    rollup of the union. Exercises the exact code path _build_aggproj's
    fast branch runs (including the HAVING cnt>0 group drop)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spec = sess._AGG_PROJECTIONS["lineitem"]
    src = sess.table_path(sf_dir, "lineitem")
    full = pq.read_table(src)
    n = full.num_rows
    a, b = full.slice(0, n // 2), full.slice(n // 2)
    pa_dir = tmp_path / "parts"
    pa_dir.mkdir()
    pq.write_table(a, str(pa_dir / "a.parquet"))
    pq.write_table(b, str(pa_dir / "b.parquet"))
    old_dir = tmp_path / "old"
    old_dir.mkdir()
    pq.write_table(
        sess._aggproj_local_lineitem(full),
        str(old_dir / "part-00000.parquet"),
    )
    # negative merge of slice b -> rollup of slice a
    got = sess._aggproj_local_merge(
        spec, [str(pa_dir / "b.parquet")], str(old_dir), negate=True
    )
    want = sess._aggproj_local_lineitem(a)
    canon = lambda t: sorted(  # noqa: E731
        [tuple(r.values()) for r in t.to_pylist()], key=str
    )
    assert canon(got) == canon(want)
    # positive merge of slice b onto rollup(a) -> rollup(full)
    old2 = tmp_path / "old2"
    old2.mkdir()
    pq.write_table(want, str(old2 / "part-00000.parquet"))
    got2 = sess._aggproj_local_merge(
        spec, [str(pa_dir / "b.parquet")], str(old2), negate=False
    )
    assert canon(got2) == canon(sess._aggproj_local_lineitem(full))


def test_affected_buckets_local_matches_spark(spark, tmp_path):
    """The driver-side affected-bucket set (murmur3 replica, NULL→seed 42)
    must equal Spark's pmod(hash(col), nb) over the same delta rows — the
    targeted projection publish hardlinks every bucket NOT in this set, so
    an under-approximation would serve stale rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    vals = [1, 2, 3, 10**12, -7, None, 2**62, -(2**62)]
    p = str(tmp_path / "delta.parquet")
    pq.write_table(pa.table({"user_id": pa.array(vals, pa.int64())}), p)
    for nb in (8, 16, 23):
        got = sess._affected_buckets_local([p], "user_id", nb)
        df = spark.createDataFrame(
            [(v,) for v in vals], "user_id long"
        )
        want = {
            r[0]
            for r in df.select(
                F.pmod(F.hash(F.col("user_id")), F.lit(nb)).alias("b")
            ).distinct().collect()
        }
        assert got == want, nb
    # non-int64 key → ineligible, caller falls back
    p2 = str(tmp_path / "delta2.parquet")
    pq.write_table(pa.table({"user_id": pa.array(["x"], pa.string())}), p2)
    assert sess._affected_buckets_local([p2], "user_id", 8) is None


def test_topkproj_local_twin_parity(spark, sf_dir, tmp_path):
    """The driver-side ordered-projection twin must equal the Spark
    TakeOrderedAndProject output row-for-row (build AND merge forms)."""
    import pyarrow.parquet as pq

    spec = sess._TOPK_PROJECTIONS["lineitem"]
    src = sess.table_path(sf_dir, "lineitem")
    cols = ", ".join(spec["cols"])
    spark.read.parquet(src).createOrReplaceTempView("_tw_tk")
    want = [
        tuple(r)
        for r in spark.sql(
            f"SELECT {cols} FROM _tw_tk"
            f" ORDER BY {spec['order_sql']} LIMIT {spec['n']}"
        ).collect()
    ]
    got_t = sess._topkproj_local(spec, [src], None)
    got = [tuple(r.values()) for r in got_t.to_pylist()]
    assert got == want
    # merge form: top-n(slice A) merged with the DISJOINT slice B must
    # re-produce the full table's top-n (every global top row is in some
    # batch's top-n — the merge invariant)
    import pyarrow as pa
    import pyarrow.parquet as pq2

    full = pq2.read_table(src)
    n = full.num_rows
    a_path = str(tmp_path / "a.parquet")
    b_path = str(tmp_path / "b.parquet")
    pq2.write_table(full.slice(0, n // 2), a_path)
    pq2.write_table(full.slice(n // 2), b_path)
    old_dir = tmp_path / "tk_old"
    old_dir.mkdir()
    pq.write_table(
        sess._topkproj_local(spec, [a_path], None),
        str(old_dir / "part-00000.parquet"),
    )
    got2 = sess._topkproj_local(spec, [b_path], str(old_dir))
    assert [tuple(r.values()) for r in got2.to_pylist()] == want
    # NULL in an order column → ineligible, Spark path stands
    nulled = pa.table(
        {
            c: (
                pa.array([None], pa.float64())
                if c == "l_extendedprice"
                else full.slice(0, 1).column(c)
            )
            for c in spec["cols"]
        }
    )
    np_path = str(tmp_path / "nulls.parquet")
    pq2.write_table(nulled, np_path)
    assert sess._topkproj_local(spec, [np_path], None) is None
