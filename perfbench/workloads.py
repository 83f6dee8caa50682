"""The benchmark's workloads: inputs, one pass of user work, and the
checks made on the outputs after the timed window.

A pass calls the engine's public functions one at a time, each inside a
tracer span named ``<layer>.<call>``; the span names are the layer
metric prefixes. An operation that raises or returns a wrong result is
counted as failed and the pass goes on.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

VALIDATOR_CHECKS = (
    "check_row_count",
    "check_partition_counts",
    "check_column_stats",
    "check_aggregate_fingerprints",
    "check_row_sample",
)


@dataclass
class Tally:
    """Operations attempted and failed, with the first few failure reasons."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 10:
                self.errors.append(what)
        return ok

    def add(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0) + value


def _call(tally: Tally, what: str, fn, *args, **kwargs):
    """Run one engine call; an exception counts as a failed operation."""
    try:
        return fn(*args, **kwargs)
    except Exception as e:  # noqa: BLE001 - the benchmark must count the failure and go on
        tally.record(False, f"{what}: {type(e).__name__}: {str(e)[:200]}")
        return None


class Migrate:
    """The reference's product path on ``orders`` and ``lineitem``:
    discover, DDL and ``transfer_schema`` to parquet for both tables; a
    month-partitioned transfer of ``orders`` and a merge of an update
    batch into it; then the five validator checks on ``orders``."""

    name = "migrate"
    SF = 0.01
    TABLES = ("orders", "lineitem")
    UPDATE_SHARE = 0.2
    UPDATE_DELTA = 1.0

    def __init__(self, seed: int, workdir: str, nproc: int) -> None:
        self.seed, self.workdir, self.nproc = seed, workdir, nproc

    def prepare(self) -> dict:
        self.inp = self._make()
        return {"sf": self.SF, "rows": self.inp["rows"], "updates": self.inp["n_updates"],
                "update_months": self.inp["months"]}

    def _make(self) -> dict:
        tables = gen.make_tables(self.seed, self.SF)
        tables = {t: tables[t] for t in self.TABLES}
        orders = tables["orders"]
        # the validator's row-sample layer is given this key
        if pc.count_distinct(orders["o_orderkey"]).as_py() != orders.num_rows:
            raise RuntimeError("orders: o_orderkey is not unique on the generated input")
        src = os.path.join(self.workdir, "src")
        paths = gen.write_tables(tables, src)
        month_np = pc.strftime(orders["o_orderdate"], format="%Y-%m").to_numpy(zero_copy_only=False)
        rng = np.random.default_rng(self.seed + 1)
        months = sorted(rng.choice(np.unique(month_np), 2, replace=False))
        in_months = np.isin(month_np, months)
        picked = in_months & (rng.random(orders.num_rows) < self.UPDATE_SHARE)
        for m in months:  # the batch touches both months even when one is sparse
            picked[np.argmax(month_np == m)] = True
        upd = orders.filter(pa.array(picked))
        upd = upd.set_column(
            upd.schema.get_field_index("o_totalprice"),
            "o_totalprice",
            pc.round(pc.add(upd["o_totalprice"], self.UPDATE_DELTA), 2),
        ).append_column("_pt", pc.strftime(upd["o_orderdate"], format="%Y-%m"))
        upd_path = os.path.join(self.workdir, "updates.parquet")
        pq.write_table(upd, upd_path)
        return {
            "src": src,
            "paths": paths,
            "out": os.path.join(self.workdir, "out"),
            "rows": {t: tables[t].num_rows for t in self.TABLES},
            "updates_path": upd_path,
            "n_updates": upd.num_rows,
            "months": [str(m) for m in months],
            "month_rows": int(in_months.sum()),
            "price_cents": int(pc.sum(pc.round(pc.multiply(orders["o_totalprice"], 100))).as_py()),
        }

    def run_pass(self, spark, tr) -> Tally:
        from snowflake_to_postgres_spark.operators.transfer import (
            TransferEngine,
            merge_upsert_partitioned,
            transfer_partitioned,
        )
        from snowflake_to_postgres_spark.operators.validation import DataValidator
        from snowflake_to_postgres_spark.plans.catalog import discover_parquet_schema
        from snowflake_to_postgres_spark.plans.ddl import generate_schema_ddl

        inp, t = self.inp, Tally()
        with tr.span("plans.discover"):
            info = _call(t, "discover", discover_parquet_schema, spark, inp["src"])
        if info is not None:
            t.record(
                sorted((x.name, x.row_count) for x in info.tables) == sorted(inp["rows"].items()),
                "discover: tables or row counts differ from the input",
            )
            with tr.span("plans.ddl"):
                ddl = _call(t, "ddl", generate_schema_ddl, info)
            if ddl is not None:
                t.record(sum("CREATE TABLE" in s for s in ddl) == len(self.TABLES), "ddl: table count")

        with tr.span("transfer.transfer_schema"):
            stats = _call(
                t, "transfer_schema", TransferEngine(spark).transfer_schema,
                inp["paths"], inp["out"], workers=min(self.nproc, len(self.TABLES)),
            )
        for s in stats or []:
            ok = t.record(s.error is None and s.rows == inp["rows"][s.table],
                          f"transfer_schema {s.table}: rows={s.rows} error={s.error}")
            t.add("transfer.transfer_schema.rows", s.rows)
            t.add("transfer.transfer_schema.failed", 0 if ok else 1)

        with tr.span("transfer.transfer_partitioned"):
            st = _call(t, "transfer_partitioned orders", transfer_partitioned,
                       spark, inp["paths"]["orders"], os.path.join(inp["out"], "orders_by_month"),
                       "o_orderdate")
        ok = st is not None and t.record(st.rows == inp["rows"]["orders"],
                                         f"transfer_partitioned orders: rows={st.rows}")
        t.add("transfer.transfer_partitioned.rows", st.rows if st else 0)
        t.add("transfer.transfer_partitioned.failed", 0 if ok else 1)

        with tr.span("transfer.merge_upsert_partitioned"):
            st = _call(t, "merge_upsert_partitioned", lambda: merge_upsert_partitioned(
                spark, os.path.join(inp["out"], "orders_by_month"),
                spark.read.parquet(inp["updates_path"]), ["o_orderkey"]))
        ok = st is not None and t.record(st.rows == inp["month_rows"],
                                         f"merge: rewritten rows={st.rows}, expected {inp['month_rows']}")
        t.add("transfer.merge_upsert_partitioned.rows", st.rows if st else 0)
        t.add("transfer.merge_upsert_partitioned.failed", 0 if ok else 1)

        with tr.span("sources.read"):
            v = _call(t, "read orders", lambda: DataValidator(
                spark.read.parquet(inp["paths"]["orders"]),
                spark.read.parquet(os.path.join(inp["out"], "orders")),
                pk_columns=["o_orderkey"],
            ))
        if v is not None:
            for check in VALIDATOR_CHECKS:
                with tr.span(f"validation.{check}"):
                    r = _call(t, f"{check} orders", getattr(v, check))
                if r is not None:
                    t.record(r.passed, f"{check} orders: {r.details[:3]}")
            t.add("validation.rows", 2 * inp["rows"]["orders"])
        return t

    def moved_rows(self, tally: Tally) -> float:
        return (tally.counters.get("transfer.transfer_schema.rows", 0)
                + tally.counters.get("transfer.transfer_partitioned.rows", 0))

    def check(self, spark) -> Tally:
        """Re-read the last pass's outputs with DuckDB, independently of
        Spark: row counts of every target, and the merge's effect on
        ``orders`` (row count unchanged, price sum moved by exactly the
        update amount)."""
        inp, t = self.inp, Tally()
        con = duckdb.connect()

        def query(what: str, select: str, target: str, hive: bool = False):
            path = os.path.join(inp["out"], target)
            sql = f"SELECT {select} FROM read_parquet('{path}/**/*.parquet', hive_partitioning={hive})"
            return _call(t, what, lambda: con.execute(sql).fetchone())

        try:
            for table in self.TABLES:
                row = query(f"check {table}", "count(*)", table)
                if row is not None:
                    t.record(row[0] == inp["rows"][table], f"check {table}: target rows {row[0]}")
            row = query("check merge", "count(*), sum(round(o_totalprice * 100)::BIGINT)",
                        "orders_by_month", hive=True)
            if row is not None:
                want = inp["price_cents"] + round(inp["n_updates"] * self.UPDATE_DELTA * 100)
                t.record(row[0] == inp["rows"]["orders"], f"check merge: orders rows {row[0]}")
                t.record(row[1] == want, f"check merge: price sum {row[1]} cents, expected {want}")
        finally:
            con.close()
        return t


class Queries:
    """Registered query keys on generated sf0.01 tables, each written to
    the noop sink, with construct and execute timed as separate spans."""

    name = "queries"
    SF = 0.01
    #: one key per query operator module: relational, similarity, text,
    #: dedup, analytics_ext and pipeline_ext
    KEYS = (
        "q1_pricing_summary",
        "dedup_semantic_clusters",
        "tx_bigram_lm_score",
        "dedup_exact_groups",
        "a21_binned_quantiles",
        "tx_pii_scrub",
    )

    def __init__(self, seed: int, workdir: str, nproc: int) -> None:
        self.seed, self.workdir, self.nproc = seed, workdir, nproc
        self.rows_per_pass = 0
        self._queries = None

    def _registry(self) -> dict:
        if self._queries is None:
            from snowflake_to_postgres_spark.registry import queries

            self._queries = queries()
        return self._queries

    def prepare(self) -> dict:
        self.dir = os.path.join(self.workdir, "src")
        tables = gen.make_tables(self.seed, self.SF)
        self.paths = gen.write_tables(tables, self.dir)
        self.table_rows = {n: t.num_rows for n, t in tables.items()}
        return {"sf": self.SF, "rows": self.table_rows, "keys": list(self.KEYS)}

    def run_pass(self, spark, tr) -> Tally:
        qs, t = self._registry(), Tally()
        for key in self.KEYS:
            with tr.span(f"query.{key}"):
                with tr.span(f"query.{key}.construct"):
                    df = _call(t, f"{key} construct", qs[key], spark, self.dir)
                if df is None:
                    continue
                with tr.span(f"query.{key}.exec"):
                    done = _call(t, f"{key} exec",
                                 lambda: df.write.format("noop").mode("overwrite").save() or True)
                if done:
                    t.record(True, key)
        return t

    def moved_rows(self, tally: Tally) -> float:
        return self.rows_per_pass

    def check(self, spark) -> Tally:
        """Each key against its DuckDB oracle (row count and
        order-insensitive values). Also counts the input rows each key
        scans, for ``rows_per_s``."""
        from snowflake_to_postgres_spark.registry import oracle_sql
        from tests.oracle_compare import compare_frames

        qs, osql, t = self._registry(), oracle_sql(), Tally()
        con = duckdb.connect()
        try:
            for name in self.table_rows:
                glob = gen.scan_glob(self.paths[name])
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
            for key in self.KEYS:
                df = _call(t, f"{key} construct", qs[key], spark, self.dir)
                if df is None:
                    continue
                res = _call(t, f"oracle {key}", lambda: compare_frames(df, con.execute(osql[key])))
                if res is not None:
                    t.record(res[0], f"oracle {key}: {res[1]}")
                    self.rows_per_pass += self._scanned_rows(df)
        finally:
            con.close()
        return t

    def _scanned_rows(self, df) -> int:
        files = df.inputFiles()
        return sum(
            rows for name, rows in self.table_rows.items()
            if any(f"/{name}.parquet" in f for f in files)
        )


WORKLOADS = {w.name: w for w in (Migrate, Queries)}

