"""The benchmark's workloads: one closed-loop client each.

A workload has a ``setup`` (inside ``setup_s``), an ``op`` (the timed unit a
client waits for) with untimed bookkeeping in ``after_op``, and a ``check``
run after the timed region that returns, for every completed op in order,
whether its output was wrong. The first ``warmup_ops`` ops are the warm-up:
they run inside ``setup_s`` and are checked like the rest. The timed window
that follows is a fixed number of ops (``measured_ops``). ``bytes`` holds the
per-op size behind the ``data_mb`` metric.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

import checks
import loadgen
from datagen import Scale
from spans import CURATE_STAGES, Tracer, dir_stats

#: the KPI the fact_upsert client reads after each commit (a dashboard tile)
REFRESH_KPI = "kpi6_vendas_categoria"
#: the registry KPI plans kpi_read mixes with the 10 reference KPIs
REGISTRY_KPIS = (
    "kpi_globals",
    "kpi05_top5_products",
    "kpi06_sales_by_category",
    "kpi07_sales_by_country",
    "kpi08_seasonality",
    "kpi09_top10_suppliers",
)
#: documents curate_corpus keeps of the generated corpus (datagen.DATA_SEED,
#: run.SCALE); the curation operators are deterministic
CURATED_DOCS = 2359


@dataclass
class Context:
    spark: object
    inputs: str
    tmp: str
    scale: Scale
    lineitems: int
    seed: int
    tracer: Tracer
    #: per-run facts printed in the run record
    info: dict = field(default_factory=dict)


class Workload:
    name = ""
    #: warm-up ops before timing; the JIT-compiled driver and codegen paths
    #: of the first ops are measurably slower
    warmup_ops = 4
    #: ops in one round of the workload's mix; a run ends on a round boundary
    round_ops = 1
    #: nominal seconds per op on a 4-vCPU VM; sizes the timed window from
    #: ``--seconds`` without looking at the host's speed
    op_s = 2.0

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.bytes: list[int] = []

    def measured_ops(self, seconds: float, trace: bool) -> int:
        """Ops in the timed window (``loadgen.window_ops``)."""
        return loadgen.window_ops(seconds, self.op_s, self.round_ops, trace)

    def setup(self) -> None:
        """Prepare the inputs the ops need (the warm-up ops follow)."""

    def op(self, i: int) -> None:
        raise NotImplementedError

    def after_op(self, i: int) -> None:
        """Untimed bookkeeping after a completed op."""

    def check(self) -> list[bool]:
        raise NotImplementedError

    def named_metrics(self, latencies: list[float]) -> dict[str, tuple[float | None, str]]:
        """The workload's own metric names (measured ops only)."""
        return {}


def build_warehouse(ctx: Context, out: str) -> dict[str, int]:
    from etl_airflow_adventureworks_spark.plans import pipeline

    return pipeline.build_star(ctx.spark, ctx.inputs, out)


def _ms(v: float | None) -> float | None:
    return None if v is None else v * 1e3


class StarBuild(Workload):
    """Repeated ``build_star`` into a fresh directory."""

    name = "star_build"
    op_s = 3.0

    def setup(self) -> None:
        s = self.ctx.scale
        self.want = {
            "dim_date": 2557,
            "dim_part": s.parts,
            "dim_customer_geo": s.customers,
            "dim_supplier": s.suppliers,
            "dim_locality": 25,
            "fact_sales": self.ctx.lineitems,
        }
        self.got: list[dict[str, int]] = []

    def _out(self, i: int) -> str:
        return os.path.join(self.ctx.tmp, f"warehouse-{i}")

    def op(self, i: int) -> None:
        self.got.append(build_warehouse(self.ctx, self._out(i)))

    def after_op(self, i: int) -> None:
        self.bytes.append(dir_stats(self._out(i))[0])
        shutil.rmtree(self._out(i))

    def check(self) -> list[bool]:
        return [c != self.want for c in self.got]

    def named_metrics(self, latencies):
        mb = self.bytes[self.warmup_ops :]
        return {
            "build_s": (loadgen.median(latencies), "s"),
            "warehouse_mb": (loadgen.median(mb) * 1e-6 if mb else None, "MB"),
        }


class KpiRead(Workload):
    """One dashboard client over a warehouse built once at setup."""

    name = "kpi_read"
    op_s = 0.35

    def setup(self) -> None:
        from etl_airflow_adventureworks_spark import registry
        from etl_airflow_adventureworks_spark.plans import reference_kpis

        self.registry = registry
        self.sql = reference_kpis.REFERENCE_KPI_SQL
        self.warehouse = os.path.join(self.ctx.tmp, "warehouse")
        build_warehouse(self.ctx, self.warehouse)
        with self.tracer.span("plans.register_views"):
            reference_kpis.register_warehouse_views(self.spark, self.warehouse)
        registry.load_all()
        names = list(self.sql) + list(REGISTRY_KPIS)
        # a round runs each KPI once, so every run measures the same mix
        # whatever its seed; the warm-up is the first round
        self.round_ops = self.warmup_ops = len(names)
        self.mix = loadgen.kpi_mix(self.ctx.seed, names, rounds=200)
        self.results: list[tuple[str, list[tuple]]] = []
        self.warehouse_bytes = dir_stats(self.warehouse)[0]

    def op(self, i: int) -> None:
        name = self.mix[i]
        with self.tracer.span("plans.plan"):
            if name in self.sql:
                df = self.spark.sql(self.sql[name])
            else:
                df = self.registry.QUERIES[name](self.spark, self.ctx.inputs)
        with self.tracer.span("plans.exec"):
            self.results.append((name, [tuple(r) for r in df.collect()]))

    def after_op(self, i: int) -> None:
        self.bytes.append(self.warehouse_bytes)

    def check(self) -> list[bool]:
        con = checks.connect()
        checks.register_warehouse(con, self.warehouse)
        checks.register_inputs(con, self.ctx.inputs)
        want: dict[str, list[tuple]] = {}
        wrong = []
        for name, rows in self.results:
            if name not in want:
                sql = self.sql.get(name) or self.registry.ORACLES[name]
                want[name] = checks.query(con, sql)
            wrong.append(not checks.same_rows(rows, want[name]))
        con.close()
        return wrong

    def named_metrics(self, latencies):
        return {
            "kpi_p50_ms": (_ms(loadgen.median(latencies)), "ms"),
            "kpi_p90_ms": (_ms(loadgen.percentile(latencies, 90)), "ms"),
        }


class FactUpsert(Workload):
    """Seeded upsert batches into a versioned fact, each followed by one
    reference KPI over the new version."""

    name = "fact_upsert"

    def setup(self) -> None:
        from etl_airflow_adventureworks_spark.plans import reference_kpis
        from etl_airflow_adventureworks_spark.table import VersionedTable

        self.kpi_sql = reference_kpis.REFERENCE_KPI_SQL[REFRESH_KPI]
        self.warehouse = os.path.join(self.ctx.tmp, "warehouse")
        build_warehouse(self.ctx, self.warehouse)
        reference_kpis.register_warehouse_views(self.spark, self.warehouse)
        fact = self.spark.read.parquet(f"{self.warehouse}/fact_sales.parquet").drop("ano")
        self.root = os.path.join(self.ctx.tmp, "versioned_fact")
        self.vt = VersionedTable(self.spark, self.root)
        self.vt.commit(fact, stats_cols=["id_venda"])
        self.schema = fact.schema
        keys = ds.dataset(
            f"{self.warehouse}/fact_sales.parquet", format="parquet", partitioning="hive"
        ).to_table(columns=["id_venda", "sk_tempo"])
        order = np.lexsort((keys["id_venda"].to_numpy(), keys["sk_tempo"].to_numpy()))
        ids = keys["id_venda"].to_numpy()[order]
        self.keys = loadgen.FactKeys(
            ids_by_date=ids,
            sk_tempo_by_date=keys["sk_tempo"].to_numpy()[order],
            next_orderkey=int(ids.max()) // 100 + 1,
        )
        #: batches committed, in order, and the KPI rows read after each
        #: (None when the op raised after its commit)
        self.applied: list[pa.Table] = []
        self.kpi_rows: list[list[tuple] | None] = []
        self.kpi_latencies: list[float] = []
        self._prepare(0)

    def _prepare(self, index: int) -> None:
        """Build batch ``index``'s DataFrame (client side, untimed)."""
        self._next = pa.table(loadgen.upsert_batch(self.ctx.seed, index, self.keys))
        self._next_df = self.spark.createDataFrame(self._next.to_pandas(), schema=self.schema)
        self._size_before = dir_stats(self.root)[0]

    def op(self, i: int) -> None:
        t0 = time.perf_counter()
        prev = self.vt.manifest()["files"] if self.tracer.enabled else []
        self.tracer.own_s += time.perf_counter() - t0
        with self.tracer.span("table.upsert") as rec:
            self.vt.upsert(self._next_df, "id_venda")
        self.applied.append(self._next)
        self.kpi_rows.append(None)
        if rec is not None:
            t0 = time.perf_counter()
            man = self.vt.manifest()
            new = set(man["files"]) - set(prev)
            rec["files_rewritten"] = man["op"]["files_rewritten"]
            rec["mb_rewritten"] = sum(os.path.getsize(os.path.join(self.root, f)) for f in new) * 1e-6
            rec["files_visible"] = len(man["files"])
            self.tracer.own_s += time.perf_counter() - t0
        t0 = time.perf_counter()
        with self.tracer.span("table.read"):
            df = self.vt.read()
        df.createOrReplaceTempView("fato_vendas")
        with self.tracer.span("plans.plan"):
            q = self.spark.sql(self.kpi_sql)
        with self.tracer.span("plans.exec"):
            self.kpi_rows[-1] = [tuple(r) for r in q.collect()]
        self.kpi_latencies.append(time.perf_counter() - t0)

    def after_op(self, i: int) -> None:
        self.bytes.append(dir_stats(self.root)[0] - self._size_before)
        self._prepare(len(self.applied))

    def check(self) -> list[bool]:
        con = checks.connect()
        con.execute(
            "CREATE TABLE fact AS SELECT * EXCLUDE (ano) FROM " + checks.fact_scan(self.warehouse)
        )
        checks.register_warehouse(con, self.warehouse, fact="fact")
        wrong = []
        for batch, rows in zip(self.applied, self.kpi_rows):
            checks.apply_batch(con, "fact", batch)
            if rows is not None:  # an op that raised is already a failure
                wrong.append(not checks.same_rows(rows, checks.query(con, self.kpi_sql)))
        want = checks.query(con, "SELECT COUNT(*), SUM(valor_total) FROM fact")
        final = self.vt.read().selectExpr("COUNT(*)", "SUM(valor_total)").collect()
        con.close()
        self.ctx.info["versioned_final"] = {"rows": want[0][0], "sum_valor_total": want[0][1]}
        self.ctx.info["versioned_mb"] = dir_stats(self.root)[0] * 1e-6
        if wrong and not any(wrong) and not checks.same_rows([tuple(final[0])], want):
            wrong[-1] = True  # a wrong final state is charged to the last commit
        return wrong

    def named_metrics(self, latencies):
        return {
            "refresh_p50_s": (loadgen.median(latencies), "s"),
            "versioned_kpi_p50_ms": (_ms(loadgen.median(self.kpi_latencies[self.warmup_ops :])), "ms"),
            "versioned_mb": (self.ctx.info.get("versioned_mb"), "MB"),
        }


class CurateDocs(Workload):
    """``curate_corpus`` over the documents, written by ``sinks.write_table``."""

    name = "curate_docs"
    #: its ops keep getting faster for longer: the first takes 12-14 s and
    #: the next five fall from about 3.8 s to 2.5 s
    warmup_ops = 6

    def setup(self) -> None:
        self.out = os.path.join(self.ctx.tmp, "curated")
        self.kept: list[int] = []
        self.last = None

    def op(self, i: int) -> None:
        from etl_airflow_adventureworks_spark import sinks, sources
        from etl_airflow_adventureworks_spark.operators.curate import curate_corpus

        docs = sources.load_table(self.spark, self.ctx.inputs, "documents")
        with self.tracer.span("operators.curate_plan"):
            self.last = curate_corpus(docs)
        sinks.write_table(self.last.curated, self.out)

    def after_op(self, i: int) -> None:
        self.kept.append(ds.dataset(self.out, format="parquet").count_rows())
        self.bytes.append(dir_stats(self.out)[0])

    def stage_audit(self) -> dict[str, float]:
        """Rows out of each curation stage of the last op's plan, and the
        time to materialise the stage minus the time to materialise the
        stage before it (one count per stage; untimed)."""
        out: dict[str, float] = {}
        prev = 0.0
        for name, df in self.last.stages:
            t0 = time.perf_counter()
            n = df.count()
            cum = time.perf_counter() - t0
            if name in CURATE_STAGES:
                out[f"operators.{name}.rows_out"] = n
                out[f"operators.{name}.s"] = cum - prev
            prev = cum
        return out

    def check(self) -> list[bool]:
        return [k != CURATED_DOCS for k in self.kept]

    def named_metrics(self, latencies):
        return {
            "curate_s": (loadgen.median(latencies), "s"),
            "docs_kept": (self.kept[-1] if self.kept else None, "count"),
        }


WORKLOADS = {w.name: w for w in (StarBuild, KpiRead, FactUpsert, CurateDocs)}
