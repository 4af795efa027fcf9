"""The benchmark's workloads: what one pass does and how its outputs are
checked. Both run as one closed-loop client (each op starts when the last
one returned) against the public ``api.Engine`` facade.

- ``serve``    the 11 projection-served headline queries over a fully
               ingested ten-table catalog, in a seeded order per pass.
- ``maintain`` lineitem and orders landed in directory form; each pass
               appends a batch, updates it, deletes it, merges unchanged
               orders and compacts, with one served read after each step.

Results are checked outside the timed ops: every op that raises or returns
a wrong value counts as failed.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

READ_KINDS = ("query", "fresh_read", "merge_read")
# The reads behind query_p50_ms / query_p90_ms: in serve the headline
# queries, in maintain the q1_scan_agg read after each lineitem mutation
# (the window_rank read after merge is a different query, kept apart).
E2E_READ_KINDS = ("query", "fresh_read")
MUTATION_KINDS = ("append", "update", "delete", "merge", "compact")


def _rows(tbl: pa.Table) -> list[tuple]:
    cols = tbl.column_names
    return [tuple(r[c] for c in cols) for r in tbl.to_pylist()]


class Run:
    """One run's engine handle, tracer, samples and failure count."""

    def __init__(self, eng, tracer, rng: np.random.Generator) -> None:
        self.eng = eng
        self.tr = tracer
        self.rng = rng
        self.timing = False
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.op_names: dict[str, int] = defaultdict(int)
        self.attempted = 0
        self.failed = 0

    def _record(self, kind: str, name: str, ms: float | None) -> None:
        """Count a timed op; ``ms`` is None for an op that raised."""
        if self.timing:
            if ms is not None:
                self.samples[kind].append(ms)
            self.op_names[name] += 1
            self.attempted += 1

    def fail(self, what: str, n: int = 1) -> None:
        print(f"perfbench: FAILED {what}", file=sys.stderr)
        self.failed += n

    def query(self, name: str, kind: str = "query") -> pa.Table | None:
        """Build, execute and fetch one registry query; its latency runs
        from ``Engine.query`` through ``toArrow()``."""
        with self.tr.op(kind, name) as rec:
            try:
                t0 = time.perf_counter()
                with self.tr.span("api.query"):
                    df = self.eng.query(name)
                with self.tr.span("spark.toArrow"):
                    tbl = df.toArrow()
                ms = (time.perf_counter() - t0) * 1000
            except Exception:  # an op that raises is a failed op; keep running
                traceback.print_exc()
                self._record(kind, name, None)
                self.fail(f"{kind} {name} raised", int(self.timing))
                return None
            self.tr.query_done(rec, df)
        self._record(kind, name, ms)
        return tbl

    def mutate(
        self, kind: str, api_name: str, call, table: str = "", rows=None, land=None
    ):
        """Time one ``Engine`` mutation (``call``) as a ``kind`` op on
        ``table``, after ``land()`` (also timed) if given; ``rows(result)``
        gives the rows it changed."""
        with self.tr.op(kind, api_name) as rec:
            try:
                t0 = time.perf_counter()
                if land is not None:
                    land()
                with self.tr.span(f"api.{api_name}"):
                    out = call()
                ms = (time.perf_counter() - t0) * 1000
            except Exception:
                traceback.print_exc()
                self._record(kind, api_name, None)
                self.fail(f"{kind} raised", int(self.timing))
                return None
            if rec is not None:
                rec["table"] = table
                rec["rows"] = rows(out) if rows else 0
        self._record(kind, api_name, ms)
        return out


def _oracle_con(tables: dict[str, pa.Table]):
    import duckdb

    con = duckdb.connect()
    for name, tbl in tables.items():
        con.register(name, tbl)
    return con


def _oracle_ok(run: Run, con, name: str, tbl: pa.Table | None) -> bool:
    from data_etl_sh_lianjia_spark.canon import compare_results
    from data_etl_sh_lianjia_spark.plans.registry import get_query

    if tbl is None:
        return False
    cur = con.execute(get_query(name).oracle)
    res = compare_results(
        _rows(tbl), tbl.column_names,
        cur.fetchall(), [d[0] for d in cur.description],
    )
    if not res.ok:
        print(f"perfbench: {name} != oracle: {res.reason}", file=sys.stderr)
    return res.ok


class Serve:
    """Projection-served reads on an ingested catalog: plan build, Catalyst,
    one small job and an Arrow fetch per query, so plan, route and
    driver-floor changes show here and execution kernels barely do."""

    name = "serve"
    tables = None  # all ten
    dir_form: tuple[str, ...] = ()
    warmup_passes = 8

    def __init__(self, run: Run, landed: dict[str, pa.Table]) -> None:
        from data_etl_sh_lianjia_spark.plans.registry import all_queries

        self.run = run
        self.landed = landed
        self.names = sorted(
            n for n, q in all_queries().items() if q.bench and n != "q1_rawscan"
        )

    def setup(self) -> None:
        self.run.mutate("ingest", "ingest", self.run.eng.ingest)

    def one_pass(self) -> list:
        order = list(self.names)
        self.run.rng.shuffle(order)
        for n in order:
            self.run.query(n)
        return []

    def check(self) -> None:
        """Each query's served result against its DuckDB oracle on the raw
        landing, once per run; a mismatch fails every timed op of that query."""
        con = _oracle_con(self.landed)
        for n in self.names:
            if not _oracle_ok(self.run, con, n, self.run.query(n, kind="check")):
                self.run.fail(f"oracle {n}", self.run.op_names[n])


class Maintain:
    """The land -> maintain -> serve write path: DML kernels, artifact
    maintenance and snapshot/commit publishing do the work, each step
    followed by the served read a user would issue next."""

    name = "maintain"
    tables = ("lineitem", "orders")
    dir_form = ("lineitem", "orders")
    warmup_passes = 3
    batch_rows = 2000
    merge_rows = 200
    key_shift = 10_000_000  # appended batches sit above every landed orderkey

    def __init__(self, run: Run, landed: dict[str, pa.Table], landing: str) -> None:
        from data_etl_sh_lianjia_spark.session import Q1_CUTOFF

        self.run = run
        self.landed = landed
        self.landing = landing
        self.cutoff = pa.scalar(np.datetime64(Q1_CUTOFF.replace(" ", "T"), "us"))
        self.pass_no = 0
        self.base: dict[str, pa.Table] = {}

    def setup(self) -> None:
        run = self.run
        run.mutate("ingest", "ingest", run.eng.ingest)
        con = _oracle_con(self.landed)
        for q in ("q1_scan_agg", "window_rank"):
            tbl = run.query(q, kind="check")
            if not _oracle_ok(run, con, q, tbl):
                run.fail(f"baseline {q}")
            self.base[q] = tbl

    @staticmethod
    def _total(q1: pa.Table | None, col: str = "count_order"):
        return None if q1 is None else pc.sum(q1[col]).as_py()

    def one_pass(self) -> list:
        """Run one pass; returns the checks to run once its clock stops."""
        run, eng, rng = self.run, self.run.eng, self.run.rng
        p = self.pass_no
        self.pass_no += 1
        li, od = self.landed["lineitem"], self.landed["orders"]
        lo = self.key_shift * (p + 1)
        batch = li.take(rng.choice(li.num_rows, self.batch_rows, replace=False))
        batch = batch.set_column(
            0, "l_orderkey", pc.add(batch["l_orderkey"], pa.scalar(lo, pa.int64()))
        )
        in_cutoff = pc.sum(pc.less_equal(batch["l_shipdate"], self.cutoff)).as_py()
        pred = (pc.field("l_orderkey") >= lo) & (pc.field("l_orderkey") < lo + self.key_shift)
        merge_batch = od.take(rng.choice(od.num_rows, self.merge_rows, replace=False))
        part = os.path.join(self.landing, "lineitem.parquet", f"part-b{p:05d}.parquet")

        run.mutate(
            "append", "ingest", eng.ingest, "lineitem", lambda _: self.batch_rows,
            land=lambda: pq.write_table(batch, part),
        )
        r_app = run.query("q1_scan_agg", "fresh_read")
        n_upd = run.mutate("update", "update_where", lambda: eng.update_where(
            "lineitem", pred, {"l_quantity": lambda t: pc.add(t["l_quantity"], 1.0)}
        ), "lineitem", int)
        r_upd = run.query("q1_scan_agg", "fresh_read")
        n_del = run.mutate(
            "delete", "delete_where", lambda: eng.delete_where("lineitem", pred), "lineitem", int
        )
        r_del = run.query("q1_scan_agg", "fresh_read")
        n_mrg = run.mutate("merge", "merge_into", lambda: eng.merge_into(
            "orders", merge_batch, "o_orderkey"
        ), "orders", sum)
        r_mrg = run.query("window_rank", "merge_read")
        c_out = run.mutate(
            "compact", "compact", lambda: eng.compact("lineitem"), "lineitem",
            lambda d: d["rows"],
        )
        r_cmp = run.query("q1_scan_agg", "fresh_read")

        base_n = self._total(self.base["q1_scan_agg"])
        qty_app, qty_upd = self._total(r_app, "sum_qty"), self._total(r_upd, "sum_qty")
        return [
            ("append read-your-write", self._total(r_app) == base_n + in_cutoff),
            ("update rows", n_upd == self.batch_rows),
            # every batch row inside the Q1 cutoff gained 1 in l_quantity
            ("update read-your-write", qty_app is not None and qty_upd is not None
             and abs(qty_upd - qty_app - in_cutoff) < 1e-6),
            ("delete rows", n_del == self.batch_rows),
            ("delete restores q1", self._same("q1_scan_agg", r_del)),
            ("merge rows", n_mrg == (self.merge_rows, self.merge_rows)),
            ("merge keeps window_rank", self._same("window_rank", r_mrg)),
            ("compact rows", c_out is not None and c_out.get("rows") == li.num_rows),
            ("compact keeps q1", self._same("q1_scan_agg", r_cmp)),
        ]

    def _same(self, q: str, tbl: pa.Table | None) -> bool:
        from data_etl_sh_lianjia_spark.canon import compare_results

        base = self.base[q]
        return tbl is not None and compare_results(
            _rows(tbl), tbl.column_names, _rows(base), base.column_names
        ).ok

    def check(self) -> None:
        """Served values after the last pass against the DuckDB oracle over
        the original tables (every pass returns them to their start)."""
        con = _oracle_con(self.landed)
        for q in ("q1_scan_agg", "window_rank"):
            if not _oracle_ok(self.run, con, q, self.run.query(q, kind="check")):
                self.run.fail(f"final {q}")
