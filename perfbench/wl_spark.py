"""The Spark workload `dataplane`: pruned reads, a full aggregate and a
state-neutral append/UPDATE/MERGE/DELETE cycle through DeltaTable, plus
(in traced runs) one pass over six oracle-checked registry queries.  It
starts its own local Spark session at local[nproc]."""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.common import OpBook, Workload, metric, tail
from perfbench.spans import REGISTRY_QUERIES, install_spark_patches, spark_job_counts


def start_spark(workdir: str):
    """The engine's tuned session, with warehouse and scratch inside the
    workload directory."""
    from delta_go_spark.session import get_spark

    import tempfile

    os.chdir(workdir)  # spark-warehouse / derby land here, not in the repo root
    # JVM temp files (Spark scratch, extracted native codecs) follow the
    # Python temp dir; perf-data files are not written at all
    os.environ.setdefault(
        "JAVA_TOOL_OPTIONS", f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData")
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS",
                          "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - make sure it is gone either way
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# dataplane
# ---------------------------------------------------------------------------

@dataclass
class DpSize:
    rows: int
    key_ranges: int  # range partitions per write: files = ranges x years
    reserved: int  # rows the DML cycle appends, updates, merges, deletes
    min_cycles: int
    traced_cycles: int


DP_SIZES = {
    "full": DpSize(rows=40_000, key_ranges=8, reserved=1000, min_cycles=2, traced_cycles=1),
    "smoke": DpSize(rows=4_000, key_ranges=2, reserved=50, min_cycles=1, traced_cycles=1),
}

YEARS = [str(y) for y in range(1992, 2000)]


class Dataplane(Workload):
    name = "dataplane"
    headline = "read"
    kinds = ["read", "agg", "append", "update", "merge", "delete"]
    # one cycle: six pruned reads, then the state-neutral write cycle
    cycle = ["read"] * 6 + ["agg", "append", "update", "merge", "delete"]

    def __init__(self, workdir: str, seed: int, scale: str):
        self.workdir = workdir
        self.size = s = DP_SIZES[scale]
        self.cycle_len = len(self.cycle)
        self.min_ops = s.min_cycles * self.cycle_len
        self.rng = np.random.default_rng(seed)
        n_orders = s.rows // 4
        src = datagen.lineitem(self.rng, s.rows, n_orders)
        year = pc.strftime(src["l_shipdate"], format="%Y")
        self.src = src.append_column("l_shipyear", year)
        self.src_path = os.path.join(workdir, "lineitem.parquet")
        pq.write_table(self.src, self.src_path)
        self.n_keys = n_orders
        # reserved rows: keys above every source key, one partition
        r = datagen.lineitem(self.rng, s.reserved, s.reserved)
        r = r.set_column(0, "l_orderkey",
                         pa.array(np.arange(s.reserved) + n_orders, pa.int64()))
        r = r.append_column("l_shipyear", pa.array(["1998"] * s.reserved))
        self.reserved_qty = float(pc.sum(r["l_quantity"]).as_py())
        self.expected_agg = {
            row["l_returnflag"]: (row["count_all"], row["l_quantity_sum"])
            for row in self.src.group_by("l_returnflag")
            .aggregate([([], "count_all"), ("l_quantity", "sum")]).to_pylist()
        }
        t0 = time.perf_counter()
        self.spark = start_spark(workdir)
        self.spark_start_s = time.perf_counter() - t0
        self.reserved_df = self.spark.createDataFrame(r.to_pandas())
        self.seed, self.scale = seed, scale

    def traced_extra(self, book: OpBook, tracer) -> None:
        """One registry pass, traced, after the traced cycles (the JVM is
        warm, the queries' own caches are cold).  Untraced runs skip it:
        a pass costs ~30 s and its cold timings swing widely run to run."""
        RegistryPass(self, self.workdir, self.seed, self.scale).run(book, tracer)

    def traced_details(self, book: OpBook) -> dict:
        return {
            "registry_pass_s": metric(book.samples["pass"][0] / 1000.0, "s"),
            "registry_query_ms": {q: book.samples[q][0] for q in REGISTRY_QUERIES
                                  if q in book.samples},
        }

    def setup(self, rep: int) -> None:
        from delta_go_spark.table import DeltaTable

        self.path = os.path.join(self.workdir, "table")
        shutil.rmtree(self.path, ignore_errors=True)
        df = (self.spark.read.parquet(self.src_path)
              .repartitionByRange(self.size.key_ranges, "l_orderkey")
              .sortWithinPartitions("l_orderkey"))
        DeltaTable.create(self.spark, self.path, df, partition_by=["l_shipyear"])
        self.n_ops = 0

    def traced_ops(self) -> int:
        return self.size.traced_cycles * len(self.cycle)

    def install_tracing(self, tracer) -> None:
        install_spark_patches(tracer)
        self.job_counts = {"jobs": 0, "stages": 0, "tasks": 0, "ops": 0}

    def job_group(self, tracer) -> str | None:
        """Tag the next Spark jobs with the traced op's id."""
        if tracer is None:
            return None
        group = f"perfbench-{tracer.op_id}"
        self.spark.sparkContext.setJobGroup(group, group)
        return group

    def count_jobs(self, group: str, key: str | None = None) -> None:
        jobs, stages, tasks = spark_job_counts(self.spark, group)
        self.job_counts["jobs"] += jobs
        self.job_counts["stages"] += stages
        self.job_counts["tasks"] += tasks
        self.job_counts["ops"] += 1
        if key is not None:
            self.job_counts[key] = jobs
        self.spark.sparkContext.setJobGroup("perfbench-checks", "checks")

    def close(self) -> None:
        stop_spark(self.spark)

    # -- the state-neutral cycle ---------------------------------------------
    def _read_pred(self):
        from delta_go_spark.expressions import (
            And, Column, EqualTo, GreaterThanOrEq, LessThan, Literal,
        )

        year = str(self.rng.choice(YEARS[:-1]))
        lo = int(self.rng.integers(0, self.n_keys))
        hi = lo + self.n_keys // 8
        expr = And(EqualTo(Column("l_shipyear"), Literal(year)),
                   And(GreaterThanOrEq(Column("l_orderkey"), Literal(lo)),
                       LessThan(Column("l_orderkey"), Literal(hi))))
        keys, years = self.src["l_orderkey"], self.src["l_shipyear"]
        mask = pc.and_(pc.equal(years, year),
                       pc.and_(pc.greater_equal(keys, lo), pc.less(keys, hi)))
        return expr, int(pc.sum(mask.cast(pa.int64())).as_py() or 0)

    def _reserved_pred(self):
        from delta_go_spark.expressions import Column, GreaterThanOrEq, Literal

        return GreaterThanOrEq(Column("l_orderkey"), Literal(self.n_keys))

    def one_op(self, book: OpBook, tracer) -> None:
        from pyspark.sql import functions as F

        from delta_go_spark.table import DeltaTable

        kind = self.cycle[self.n_ops % len(self.cycle)]
        self.n_ops += 1
        book.attempted += 1
        group = self.job_group(tracer)
        try:
            if kind == "read":
                expr, want = self._read_pred()
                t0 = time.perf_counter()
                df = DeltaTable(self.spark, self.path).to_df(expr)
                t1 = time.perf_counter()
                got = df.count()
                t2 = time.perf_counter()
                book.add("read", (t2 - t0) * 1000.0)
                if tracer is not None:
                    tracer.counts["datareader.action_us"] += int((t2 - t1) * 1e6)
                self._check(book, f"read count {expr}", got, want)
            elif kind == "agg":
                t0 = time.perf_counter()
                rows = (DeltaTable(self.spark, self.path).to_df()
                        .groupBy("l_returnflag")
                        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
                        .collect())
                book.add("agg", (time.perf_counter() - t0) * 1000.0)
                got = {r["l_returnflag"]: (r["n"], r["q"]) for r in rows}
                self._check(book, "aggregate", got, self.expected_agg)
            else:
                t0 = time.perf_counter()
                dt = DeltaTable(self.spark, self.path)
                if kind == "append":
                    dt.append(self.reserved_df)
                elif kind == "update":
                    dt.update(self._reserved_pred(), {"l_quantity": F.lit(0.0)})
                elif kind == "merge":
                    dt.merge(self.reserved_df, on="l_orderkey",
                             update_set={"l_quantity": F.col("_s_l_quantity")})
                else:
                    dt.delete(self._reserved_pred())
                book.add(kind, (time.perf_counter() - t0) * 1000.0)
                if kind in ("update", "merge"):
                    self._check_reserved(book, kind)
        except Exception as e:  # noqa: BLE001 - any unplanned error is a failed op
            book.fail(f"dataplane {kind}: {type(e).__name__}: {e}")
        finally:
            if group is not None:
                self.count_jobs(group)

    def _check_reserved(self, book: OpBook, kind: str) -> None:
        """Reserved rows after UPDATE (all present, zeroed) and MERGE (all
        restored).  The next cycle's full aggregate proves APPEND added
        nothing else and DELETE removed them all."""
        from pyspark.sql import functions as F

        from delta_go_spark.table import DeltaTable

        n = self.size.reserved
        want = {"update": (n, 0.0), "merge": (n, self.reserved_qty)}[kind]
        row = (DeltaTable(self.spark, self.path).to_df(self._reserved_pred())
               .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
               .collect()[0])
        self._check(book, f"reserved rows after {kind}", (row["n"], row["q"]), want)

    @staticmethod
    def _check(book: OpBook, what: str, got, want) -> None:
        if got != want:
            book.fail(f"{what}: got {got}, expected {want}")

    def details(self, book: OpBook) -> dict:
        writes = book.samples.get("append", [])
        t = tail(writes)
        return {
            "spark_start_s": self.spark_start_s,
            "dp_read_p50_ms": metric(book.p50("read"), "ms"),
            "dp_agg_p50_ms": metric(book.p50("agg"), "ms"),
            "dp_write_p50_ms": metric(book.p50("append"), "ms"),
            "dp_write_tail_ms": {**metric(t["value"] if t else max(writes), "ms"),
                                 "tail": t, "n": len(writes)},
            "table_files": len(os.listdir(self.path)),
        }

    def layer_metrics(self, tracer) -> dict:
        from perfbench.spans import spark_layer_defaults

        out = spark_layer_defaults()
        c = tracer.counts
        files, nbytes, rewritten = self._commit_file_counts()
        ops = max(self.job_counts["ops"], 1)
        out.update({
            "datareader.build_ms": (tracer.total_ms("datareader.build"), "ms"),
            "datareader.action_ms": (c["datareader.action_us"] / 1000.0, "ms"),
            "writer.write_ms": (tracer.total_ms("writer.write"), "ms"),
            "writer.files_written": (files, "count"),
            "writer.bytes_written": (nbytes, "bytes"),
            "dml.delete_ms": (tracer.total_ms("dml.delete"), "ms"),
            "dml.update_ms": (tracer.total_ms("dml.update"), "ms"),
            "dml.merge_ms": (tracer.total_ms("dml.merge"), "ms"),
            "dml.files_rewritten": (rewritten, "count"),
            "spark.jobs": (self.job_counts["jobs"] / ops, "count"),
            "spark.stages": (self.job_counts["stages"] / ops, "count"),
            "spark.tasks": (self.job_counts["tasks"] / ops, "count"),
        })
        out.update(RegistryPass.layer_metrics(tracer, self.job_counts))
        return out

    def _commit_file_counts(self) -> tuple[int, int, int]:
        """Files and bytes the traced cycle's commits added, and files its
        DML removed, read back from the commits it wrote."""
        import json

        log_dir = os.path.join(self.path, "_delta_log")
        commits = sorted(n for n in os.listdir(log_dir) if n.endswith(".json"))
        files = nbytes = rewritten = 0
        writes = sum(1 for k in self.cycle if k not in ("read", "agg"))
        for name in commits[-writes * self.size.traced_cycles:]:
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    a = json.loads(line)
                    if "add" in a:
                        files += 1
                        nbytes += a["add"]["size"]
                    elif "remove" in a:
                        rewritten += 1
        return files, nbytes, rewritten


# ---------------------------------------------------------------------------
# registry pass (traced dataplane runs)
# ---------------------------------------------------------------------------

REG_SCALE = {"full": 1.0, "smoke": 0.4}


class RegistryPass:
    """Six registry queries, one per family, on generated fixtures; each
    result is checked against its `oracle_sql()` on DuckDB outside the
    timed region."""

    def __init__(self, workload: Dataplane, workdir: str, seed: int, scale: str):
        import __spark_entry__ as entry

        self.w = workload
        self.sf_dir = os.path.join(workdir, "fixtures")
        registry, oracles = entry.queries(), entry.oracle_sql()
        self.fns = {q: registry[q] for q in REGISTRY_QUERIES}
        datagen.write_fixture_dir(self.sf_dir, seed, REG_SCALE[scale])
        self.expected = self._oracle_hashes({q: oracles[q] for q in REGISTRY_QUERIES})

    def _oracle_hashes(self, oracles: dict[str, str]) -> dict:
        import duckdb

        from scripts.check_parity import value_hash

        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{t}.parquet')")
            out = {}
            for q, sql in oracles.items():
                rel = con.execute(sql)
                cols = [d[0] for d in rel.description]
                rows = rel.fetchall()
                out[q] = (len(rows), sorted(cols), value_hash(rows, cols))
            return out
        finally:
            con.close()

    def run(self, book: OpBook, tracer) -> None:
        """One pass: build + collect each query; a query's samples go to
        `book` under its own name, the pass total under `pass`."""
        from scripts.check_parity import value_hash

        spark = self.w.spark
        pass_ms = 0.0
        for q in REGISTRY_QUERIES:
            book.attempted += 1
            if tracer is not None:
                tracer.next_op()
            group = self.w.job_group(tracer)
            try:
                t0 = time.perf_counter()
                df = self.fns[q](spark, self.sf_dir)
                t1 = time.perf_counter()
                rows = [tuple(r) for r in df.collect()]
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - any unplanned error is a failed op
                book.fail(f"registry {q}: {type(e).__name__}: {e}")
                continue
            finally:
                if group is not None:
                    self.w.count_jobs(group, f"registry.{q}.jobs")
            pass_ms += (t2 - t0) * 1000.0
            book.add(q, (t2 - t0) * 1000.0)
            if tracer is not None:
                tracer.counts[f"registry.{q}.build_us"] += int((t1 - t0) * 1e6)
                tracer.counts[f"registry.{q}.action_us"] += int((t2 - t1) * 1e6)
            got = (len(rows), sorted(df.columns), value_hash(rows, df.columns))
            if got != self.expected[q]:
                book.fail(f"registry {q}: result differs from oracle "
                          f"(rows {got[0]} vs {self.expected[q][0]})")
        book.add("pass", pass_ms)

    @staticmethod
    def layer_metrics(tracer, job_counts: dict) -> dict:
        c = tracer.counts
        out = {}
        for q in REGISTRY_QUERIES:
            out[f"registry.{q}.build_ms"] = (c[f"registry.{q}.build_us"] / 1000.0, "ms")
            out[f"registry.{q}.action_ms"] = (c[f"registry.{q}.action_us"] / 1000.0, "ms")
            out[f"registry.{q}.jobs"] = (job_counts.get(f"registry.{q}.jobs", 0), "count")
        return out
