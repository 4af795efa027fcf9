"""Every declared sibling artifact is in fingerprint lockstep after every
mutation kind.

The result-comparison suites cannot see a sibling that silently stayed
behind: a stale artifact is refused at serve time and the full plan
returns the same answer. This suite reads the markers instead. After an
append (new landed part + ingest), the removal of that part (whole-batch
delete + ingest), ``delete_where``, ``update_where`` (of a measure every
rollup reads, and of ``l_tax``, which only the aggregate projection
reads), ``merge_into`` and ``compact_table``, every sibling of lineitem
and orders must carry the fingerprint its maintainer derives from the
table's current one: keydict, colstats, aggproj and its coarse cut, the
top-k projection, the bucketed copy (``<fp>:bk<nb>``), the star rollups'
components (fine and coarse) and the result projections
(``<fp>:<version>``).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from data_etl_sh_lianjia_spark import session as sess

SRC = "/root/testdata/sf0.001"
DIMS = ("customer", "supplier", "nation", "region")


@pytest.fixture()
def restore_catalog(spark):
    """Put the session catalog back after routing it through this test's
    tmp managed copies."""
    keys = (
        "_lianjia_ingest_map", "_lianjia_table_cache",
        "_lianjia_keydict_views", "_lianjia_bucket_tables",
    )
    saved = {k: dict(getattr(spark, k, {}) or {}) for k in keys}
    yield
    for k, v in saved.items():
        setattr(spark, k, v)
    spark._lianjia_views_dir = None


def _fp(path: str) -> str:
    return sess._read_marker(os.path.join(path, "_SUCCESS"))[0]


def _assert_lockstep(out: str, name: str) -> None:
    table_fp = _fp(os.path.join(out, f"{name}.parquet"))
    assert table_fp, f"{name}: no managed copy"
    want: dict[str, str] = {}
    if name in sess._DICT_LAYOUT:
        want[f"{name}.keydict.parquet"] = table_fp
        want[f"{name}.colstats.parquet"] = table_fp
    ap = sess._AGG_PROJECTIONS.get(name)
    if ap:
        want[f"{name}.aggproj.parquet"] = table_fp
        if "coarse" in ap:
            want[os.path.basename(sess._coarse_dst(out, name, ap))] = table_fp
    tp = sess._TOPK_PROJECTIONS.get(name)
    if tp:
        want[f"{name}.{tp['name']}.topkproj.parquet"] = table_fp
    if name in sess._BUCKET_LAYOUT:
        bk = os.path.join(out, f"{name}.bucketed.parquet")
        nb = sess._read_marker(os.path.join(bk, "_SUCCESS"))[1].get("n_buckets")
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
        assert nb == max(8, cpus), f"{name}: bucketed copy has {nb} buckets"
        want[f"{name}.bucketed.parquet"] = f"{table_fp}:bk{nb}"
    for spec in sess._RESULT_PROJECTIONS.values():
        if spec["table"] == name:
            ver = spec.get("version", "vp2")
            want[spec["artifact"]] = f"{table_fp}:{ver}"
    for art, fp in want.items():
        assert _fp(os.path.join(out, art)) == fp, f"{art} out of lockstep"

    for jp_name, spec in sess._JOIN_PROJECTIONS.items():
        if name not in spec["sources"]:
            continue
        comp = {
            t: _fp(os.path.join(out, f"{t}.parquet")) for t in spec["sources"]
        }
        jp_fp = ";".join(f"{t}={comp[t]}" for t in sorted(comp)) + ":jp2"
        arts = [f"{jp_name}.joinproj.parquet"]
        if "coarse" in spec:
            arts.append(
                os.path.basename(sess._coarse_jp_dst(out, jp_name, spec))
            )
        for art in arts:
            fp, meta = sess._read_marker(os.path.join(out, art, "_SUCCESS"))
            assert fp == jp_fp, f"{art} out of lockstep"
            assert (meta.get("components") or {}).get(name) == table_fp, art


def _mk_sf(tmp_path, monkeypatch) -> str:
    sf = tmp_path / "sf"
    for t in ("lineitem", "orders"):
        tbl = pq.read_table(f"{SRC}/{t}.parquet")
        (sf / f"{t}.parquet").mkdir(parents=True)
        half = tbl.num_rows // 2
        pq.write_table(tbl.slice(0, half), str(sf / f"{t}.parquet" / "b0.parquet"))
        pq.write_table(tbl.slice(half), str(sf / f"{t}.parquet" / "b1.parquet"))
    for t in DIMS:
        pq.write_table(pq.read_table(f"{SRC}/{t}.parquet"), str(sf / f"{t}.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    return str(sf)


def _append(spark, sf):
    li = pq.read_table(f"{SRC}/lineitem.parquet").slice(0, 500)
    li = li.set_column(
        0, "l_orderkey", pc.add(li["l_orderkey"], pa.scalar(10_000_000, pa.int64()))
    )
    pq.write_table(li, os.path.join(sf, "lineitem.parquet", "b2.parquet"))
    sess.ingest_tables(spark, sf)
    assert spark._lianjia_ingest_appended == 1


def _batch_delete(spark, sf):
    # the batch appended by the _append preparation step
    os.remove(os.path.join(sf, "lineitem.parquet", "b2.parquet"))
    sess.ingest_tables(spark, sf)
    assert spark._lianjia_ingest_deleted == 1


def _delete(spark, sf):
    assert sess.delete_where(spark, sf, "lineitem", pc.field("l_suppkey") == 5)


def _update_read(spark, sf):
    assert sess.update_where(
        spark, sf, "lineitem", pc.field("l_suppkey") == 3,
        {"l_quantity": lambda t: pc.add(t["l_quantity"], 1.0)},
    )


def _update_tax(spark, sf):
    assert sess.update_where(
        spark, sf, "lineitem", pc.field("l_suppkey") == 3,
        {"l_tax": lambda t: pc.add(t["l_tax"], 0.01)},
    )


def _merge(spark, sf):
    od = pq.read_table(f"{SRC}/orders.parquet").slice(0, 50)
    assert sess.merge_into(spark, sf, "orders", od, "o_orderkey") == (50, 50)


def _compact(spark, sf):
    assert sess.compact_table(spark, sf, "lineitem")["rows"] > 0


@pytest.mark.parametrize(
    "prepare, mutate",
    [
        (None, _append),
        (_append, _batch_delete),
        (None, _delete),
        (None, _update_read),
        (None, _update_tax),
        (None, _merge),
        (None, _compact),
    ],
    ids=[
        "append", "batch_delete", "delete", "update", "update_tax", "merge",
        "compact",
    ],
)
def test_every_sibling_in_lockstep_after_mutation(
    spark, tmp_path, monkeypatch, restore_catalog, prepare, mutate
):
    sf = _mk_sf(tmp_path, monkeypatch)
    out = sess.ingest_tables(spark, sf)
    if prepare is not None:
        prepare(spark, sf)
    for t in ("lineitem", "orders"):
        _assert_lockstep(out, t)
    before = {
        t: _fp(os.path.join(out, f"{t}.parquet")) for t in ("lineitem", "orders")
    }
    mutate(spark, sf)
    after = {
        t: _fp(os.path.join(out, f"{t}.parquet")) for t in ("lineitem", "orders")
    }
    assert after != before, "fixture: the mutation must move a fingerprint"
    for t in ("lineitem", "orders"):
        _assert_lockstep(out, t)
