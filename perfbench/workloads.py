"""The benchmark's workloads: inputs, one pass, and its correctness check.

A workload owns its generated inputs and its DuckDB reference results.
``run_pass`` executes every op once through its real sink, each inside
the caller's ``on_op(name)`` context; ``check`` verifies the outputs of
the pass that just ran and returns the names of the ops whose output
was wrong; ``trace_points`` names the engine calls a traced pass wraps
in spans; ``layer_metrics`` adds the workload's own per-layer numbers.
Reference results are computed once, in set-up, because they do not
change between passes.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
from pyspark.sql.readwriter import DataFrameWriter

from udacity_data_engineer_capstone_spark.pipelines import i94
from udacity_data_engineer_capstone_spark.queries import pipeline as pipeline_queries
from udacity_data_engineer_capstone_spark.registry import QUERIES

import gen
from probes import self_times

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _duckdb(work: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{work}/duckdb_spill'")
    con.execute("SET threads=2")
    return con


I94_LOAD = ("load_dimensions", "load_demographics", "load_immigration")
I94_PLAN = (
    "clean_states", "clean_countries", "clean_ports", "clean_demographics",
    "clean_immigration", "build_immigration_fact", "build_port_demographics",
)


class I94Etl:
    """``i94.run(write=True)`` over seeded reference-shaped inputs: the
    paper's dataflow end to end, into the partitioned Parquet sink."""

    ops = ("i94_run",)
    fact_rows = 200_000
    tables = ("immigrations", "port_demographics", "mode", "visa_type", "state", "country", "port")

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.input_rows = self.fact_rows

    def generate(self) -> None:
        self.paths = gen.write_i94_inputs(os.path.join(self.work, "i94"), self.seed, self.fact_rows)
        self.i94_paths = i94.I94Paths(
            labels=self.paths["labels"],
            demographics=self.paths["demographics"],
            immigration=self.paths["immigration"],
            output=self.paths["output"],
        )

    def _oracle_sql(self) -> dict[str, str]:
        """The engine's SQL twins for the fact and port-demographics
        tables, pointed at this run's inputs, plus the five dims."""
        fixture = pipeline_queries._P
        imm = f"{self.paths['immigration']}/*.parquet"
        fact = pipeline_queries._FACT_ORACLE.replace(fixture["immigration"], imm)
        demo = pipeline_queries._PORT_DEMO_ORACLE
        for k in ("dim_states", "dim_visas", "dim_modes", "dim_ports", "dim_countries"):
            fact = fact.replace(fixture[k], self.paths[k])
            demo = demo.replace(fixture[k], self.paths[k])
        demo = demo.replace(fixture["demographics"], self.paths["demographics"])
        dim = lambda k: f"read_parquet('{self.paths[k]}')"  # noqa: E731
        return {
            "immigrations": fact,
            "port_demographics": demo,
            "mode": f"SELECT code, value FROM {dim('dim_modes')}",
            "visa_type": f"SELECT code, value FROM {dim('dim_visas')}",
            "state": f"SELECT code, value FROM {dim('dim_states')} WHERE code <> '99'",
            "country": (
                "SELECT code, regexp_replace(value, "
                "'^No Country.*|INVALID.*|Collapsed.*', 'NA', 'g') AS value "
                f"FROM {dim('dim_countries')}"
            ),
            "port": (
                "SELECT code, trim(split_part(value, ',', 1)) AS city, "
                "CASE WHEN value LIKE '%,%' THEN trim(split_part(value, ',', 2)) "
                f"END AS state_code FROM {dim('dim_ports')}"
            ),
        }

    @staticmethod
    def _digest(con, rel_sql: str, columns: list[tuple[str, str]]) -> tuple[int, int]:
        """Row count and order-free content hash, every column cast to
        its reference type so the read-back partition columns compare."""
        cols = ", ".join(f'CAST("{c}" AS {t})' for c, t in columns)
        q = f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) FROM ({rel_sql})"
        n, h = con.execute(q).fetchone()
        return int(n), int(h)

    def prepare_oracle(self) -> None:
        con = _duckdb(self.work)
        self.expected, self.columns = {}, {}
        for name, sql in self._oracle_sql().items():
            rel = con.sql(sql)
            self.columns[name] = list(zip(rel.columns, [str(t) for t in rel.types]))
            self.expected[name] = self._digest(con, sql, self.columns[name])
        con.close()

    def run_pass(self, on_op) -> None:
        with on_op("i94_run"):
            i94.run(self.spark, self.i94_paths, write=True)

    def trace_points(self):
        """``i94.run`` and the module functions it calls, and each
        Parquet write, named by its output table."""
        phases = ("run", "dq_count") + I94_LOAD + I94_PLAN
        table = lambda name, args: f"parquet:{os.path.basename(args[1])}"  # noqa: E731
        return [(i94, phases, None), (DataFrameWriter, ("parquet",), table)]

    def check(self) -> list[str]:
        """Read back all seven written tables and compare them with the
        reference digests."""
        con = _duckdb(self.work)
        out = self.paths["output"]
        try:
            got = {
                t: self._digest(
                    con,
                    f"SELECT * FROM read_parquet('{out}/{t}/**/*.parquet', hive_partitioning=true)",
                    self.columns[t],
                )
                for t in self.tables
            }
        finally:
            con.close()
        return ["i94_run"] if got != self.expected else []

    def layer_metrics(self, spans: list[dict], records: list[dict]) -> dict[str, float]:
        """The i94 phases from one traced pass's spans, the fact scan's
        task count, and what the sink left on disk."""
        dur = lambda names: sum(s["end"] - s["start"] for s in spans if s["name"] in names)  # noqa: E731
        writes = [s["end"] - s["start"] for s in spans if s["name"].startswith("parquet:")]
        fact = dur(("parquet:immigrations",))
        selfs = self_times(spans)
        return {
            "i94.load_s": dur(I94_LOAD),
            "i94.plan_s": dur(I94_PLAN),
            "i94.dq_s": dur(("dq_count",)),
            "i94.fact_write_s": fact,
            "i94.dim_write_s": (sum(writes) - fact) / max(1, len(writes) - 1),
            "i94.self_s": sum(selfs[s["id"]] for s in spans if s["name"] == "run"),
            "sources.fact_scan_tasks": records[0]["scan_tasks"],
            **{f"sink.{k}": v for k, v in self._sink_stats().items()},
        }

    def _sink_stats(self) -> dict[str, int]:
        files = size = 0
        dirs = set()
        for d, _, names in os.walk(self.paths["output"]):
            parts = [n for n in names if n.startswith("part-")]
            if parts:
                dirs.add(d)
            files += len(parts)
            size += sum(os.path.getsize(os.path.join(d, n)) for n in parts)
        return {"files_written": files, "bytes_written": size, "partition_dirs": len(dirs)}


def _tests_oracle():
    """The repo's Spark-vs-DuckDB comparator (``tests/oracle.py``), for
    its type and value canonicalization."""
    spec = importlib.util.spec_from_file_location(
        "_engine_tests_oracle", os.path.join(_REPO, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class StreamState:
    """The change-log merge kept as Python state through
    ``applyInPandasWithState``. Each op is a registered query over
    seeded catalog tables, drained through a ``noop`` write and compared
    with its registered DuckDB oracle the way ``tests/oracle.py:compare``
    does."""

    ops = ("stream_cdc_apply",)
    sf = 0.01

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.sf_dir = os.path.join(work, "sf")
        self._oracle = _tests_oracle()
        self._last: dict[str, object] = {}

    def generate(self) -> None:
        self.input_rows = gen.write_orders(self.sf_dir, self.seed, self.sf)

    def prepare_oracle(self) -> None:
        o = self._oracle
        con = _duckdb(self.work)
        for name in os.listdir(self.sf_dir):
            con.execute(
                f"CREATE VIEW {name.removesuffix('.parquet')} AS "
                f"SELECT * FROM read_parquet('{self.sf_dir}/{name}')"
            )
        self.expected = {}
        for op in self.ops:
            rel = con.sql(QUERIES[op].oracle_text())
            order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
            types = [o.canon_duck_type(str(rel.types[i])) for i in order]
            rows = sorted(
                (tuple(o._canon(r[i]) for i in order) for r in rel.fetchall()), key=o._sort_key
            )
            self.expected[op] = ([rel.columns[i] for i in order], types, rows)
        con.close()

    def run_pass(self, on_op) -> None:
        for op in self.ops:
            with on_op(op):
                df = QUERIES[op].fn(self.spark, self.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                self._last[op] = df

    def trace_points(self):
        """Each registry query call, and the sink action after it."""
        points = [(QUERIES[op], ("fn",), lambda n, a, op=op: f"call:{op}") for op in self.ops]
        return points + [(DataFrameWriter, ("save",), None)]

    def check(self) -> list[str]:
        """Ops whose output differs from the oracle; an op that raised
        left no output and is already counted as failed."""
        o = self._oracle
        bad = []
        for op in self.ops:
            df = self._last.pop(op, None)
            if df is None:
                continue
            cols = sorted(df.columns)
            kinds = {f.name: o.canon_spark_type(f.dataType) for f in df.schema.fields}
            rows = sorted(
                (tuple(o._canon(r[c]) for c in cols) for r in df.collect()), key=o._sort_key
            )
            if (cols, [kinds[c] for c in cols], rows) != self.expected[op]:
                bad.append(op)
        return bad

    def layer_metrics(self, spans: list[dict], records: list[dict]) -> dict[str, float]:
        return {}


WORKLOADS = {"i94_etl": I94Etl, "stream_state": StreamState}

