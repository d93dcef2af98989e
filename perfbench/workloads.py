"""The workloads: set-up, the timed operation, its oracle check, a
perturbation (for the self-test) and the traced stage pass.

Each workload only calls the engine's public functions. A timed
operation returns ``(output, step_seconds)``; ``step_seconds`` are the
latencies of the engine calls inside it (one per analysis, one per
``run_etl``, one per curation call).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
import oracle
from nyc_taxi_etl_spark.etl import read_curated, run_etl
from nyc_taxi_etl_spark.operators.clean import clean
from nyc_taxi_etl_spark.operators.curate import curate_documents, curation_audit
from nyc_taxi_etl_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_lsh_pairs,
)
from nyc_taxi_etl_spark.operators.normalize import unify
from nyc_taxi_etl_spark.operators.text import fingerprint, quality_score
from nyc_taxi_etl_spark.plans import taxi_analytics as A

# rows_per_cab: raw rows per cab type over the six months
# n_docs: documents in the curation corpus
SIZES = {
    "full": {"rows_per_cab": 50_000, "n_docs": 2_000},
    "tiny": {"rows_per_cab": 3_000, "n_docs": 600},
}
CURATE_ARGS = {"quality_threshold": 0.5, "jaccard_threshold": 0.5}


def _noop(df: DataFrame) -> None:
    """Materialize every row and column without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def _tree_stats(path: str) -> tuple[int, int, int]:
    """(parquet files, leaf partition dirs, bytes) under ``path``."""
    files = parts = size = 0
    for root, _dirs, names in os.walk(path):
        data = [n for n in names if n.endswith(".parquet")]
        if data:
            parts += 1
        files += len(data)
        size += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return files, parts, size


def _no_span(_name: str):
    return contextlib.nullcontext()


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark, self.work, self.seed = spark, work, seed
        self.sizes = SIZES[size]
        self.input_rows = 0
        self.extra: dict[str, float] = {}

    def generate(self) -> None:
        """Write the seeded inputs (benchmark side)."""

    def prepare(self) -> None:
        """Engine-side set-up that users pay once, before the loop."""
        self.bind()

    def bind(self) -> None:
        """(Re)create the DataFrames bound to the current session."""

    def make_oracle(self, warm) -> None:
        """Expected outputs, computed with DuckDB; ``warm`` is the
        warm-up operation's output."""

    def op(self, span=_no_span):
        """One timed operation; ``span(name)`` wraps each engine call."""
        raise NotImplementedError

    def check(self, output) -> str | None:
        raise NotImplementedError

    def perturb(self, output):
        raise NotImplementedError

    def release(self, output) -> None:
        """Drop what one operation left behind."""

    def traced_stages(self, tracer) -> tuple[dict[str, float], float, str | None]:
        """Call the layers one after another under spans, then run the
        operation itself traced. Returns (layer metrics, traced
        operation seconds, oracle mismatch or None)."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# Taxi: taxi_etl (write path), taxi_analytics (read path), and
# taxi_pipeline (both, as one operation over a freshly written table)
# ---------------------------------------------------------------------------


def _analyses(df: DataFrame, zones: DataFrame, weather: DataFrame) -> dict:
    """The catalog sweep: the analyses of ``plans/taxi_analytics.py`` as
    the engine's own catalog test runs them, plus A1. Builders are lazy
    so each analysis' plan is built inside its own timing."""
    return {
        "avg_fare_per_mile_by_hour": lambda: A.avg_fare_per_mile_by_hour(df),
        "trips_by_dow": lambda: A.trips_by_dow(df),
        "busiest_pickup": lambda: A.busiest_zones(df, "pickup"),
        "busiest_dropoff": lambda: A.busiest_zones(df, "dropoff"),
        "monthly_fare_trend": lambda: A.monthly_fare_trend(df),
        "summary_rollup": lambda: A.summary_rollup(df),
        "per_cab_summary": lambda: A.per_cab_summary(df),
        "hourly_dashboard": lambda: A.hourly_dashboard(df),
        "od_flows": lambda: A.od_flows(df),
        "airport_trips": lambda: A.airport_trips(df),
        "nightlife_trips": lambda: A.nightlife_trips(df),
        "tip_pct_by_hour": lambda: A.tip_pct_by_hour(df),
        "median_speed_by_hour": lambda: A.median_speed_by_hour(df),
        "unit_price_by_hour": lambda: A.unit_price_by_hour(df),
        "extreme_days": lambda: A.extreme_days(df, z_threshold=1.0),
        "trip_segmentation": lambda: A.trip_segmentation(df),
        "duration_histogram": lambda: A.duration_histogram(df),
        "market_share_by_month": lambda: A.market_share_by_month(df),
        "pct_of_baseline": lambda: A.pct_of_baseline(df, oracle.BASELINE_END),
        "zone_enrichment": lambda: A.zone_enrichment(df, zones),
        "weather_correlation": lambda: A.weather_correlation(df, weather),
    }


def _kind(dt: T.DataType) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "float"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.TimestampType):
        return "ts"
    if isinstance(dt, T.DateType):
        return "date"
    raise TypeError(f"no digest for {dt}")


_DIGEST_SPARK = {
    "int": lambda c: F.sum(c.cast("long")),
    "float": lambda c: F.sum(c),
    "str": lambda c: F.sum(F.length(c).cast("long")),
    "ts": lambda c: F.sum(F.unix_seconds(c)),
    "date": lambda c: F.sum(F.datediff(c, F.lit("1970-01-01").cast("date")).cast("long")),
}


def _digest(rdf: DataFrame):
    """One-row per-column digest of a row-level result; evaluates every
    column of every row (see ``oracle.digest_sql`` for the mirror)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for f in rdf.schema.fields:
        c = F.col(f"`{f.name}`")
        aggs.append(F.count(c).alias(f"n_{f.name}"))
        aggs.append(_DIGEST_SPARK[_kind(f.dataType)](c).alias(f"s_{f.name}"))
    return rdf.agg(*aggs).toPandas()


def _materialize(name: str, rdf: DataFrame):
    return _digest(rdf) if name in oracle.ROW_LEVEL else rdf.toPandas()


def _etl_metrics(tracer, res, out: str) -> dict[str, float]:
    files, parts, size = _tree_stats(out)
    unify_s = tracer.seconds("normalize.unify")
    clean_s = tracer.seconds("clean.clean")
    run_s = tracer.seconds("etl.run_etl")
    return {
        "normalize.unify_s": unify_s,
        "clean.clean_self_s": clean_s - unify_s,
        "clean.keep_ratio": res.rows_out / res.rows_in,
        "etl.run_etl_s": run_s,
        "etl.write_self_s": run_s - clean_s,
        "etl.rows_in": res.rows_in,
        "etl.rows_out": res.rows_out,
        "etl.files_written": files,
        "etl.partitions_written": parts,
        "etl.bytes_written": size,
        "etl.read_curated_s": tracer.seconds("etl.read_curated"),
        "etl.curated_files": files,
    }


class TaxiEtl(Workload):
    """Timed: ``etl.run_etl`` from the raw parquet into a fresh curated
    directory."""

    name = "taxi_etl"

    def generate(self) -> None:
        base = os.path.join(self.work, "in")
        self.raw = gen.write_taxi(base, self.seed, self.sizes["rows_per_cab"])
        self.raw_bytes = sum(_tree_stats(p)[2] for p in self.raw.values())
        self.zones_path = os.path.join(base, "zone_lookup.parquet")
        self.weather_path = os.path.join(base, "weather_daily.parquet")
        self._n = 0

    def make_oracle(self, warm) -> None:
        self.raw_rows, self.etl_expected = oracle.etl_oracle(self.raw)
        self.input_rows = self.raw_rows

    def _fresh_dir(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"curated-{self._n}")

    def _run_etl(self, span):
        out = self._fresh_dir()
        t = time.perf_counter()
        with span("etl.run_etl"):
            res = run_etl(self.spark, self.raw, out)
        return (res, out), time.perf_counter() - t

    def op(self, span=_no_span):
        output, seconds = self._run_etl(span)
        return output, [seconds]

    def _check_etl(self, output) -> str | None:
        res, out = output
        want_out = int(self.etl_expected["n_rows"].sum())
        if (res.rows_in, res.rows_out) != (self.raw_rows, want_out):
            return f"rows in/out {res.rows_in}/{res.rows_out} != {self.raw_rows}/{want_out}"
        _files, parts, size = _tree_stats(out)
        if parts != len(gen.CABS) * len(gen.MONTHS):
            return f"{parts} partitions written"
        self.extra["stored_bytes_per_raw_byte"] = size / self.raw_bytes
        return oracle.frames_match(oracle.curated_checksums(out), self.etl_expected)

    def check(self, output) -> str | None:
        return self._check_etl(output)

    def perturb(self, output):
        _res, out = output
        victim = next(
            os.path.join(r, n) for r, _d, ns in sorted(os.walk(out)) for n in sorted(ns)
            if n.endswith(".parquet")
        )
        os.remove(victim)
        return output

    def release(self, output) -> None:
        shutil.rmtree(output[1], ignore_errors=True)

    def _stage_layers(self, tracer) -> None:
        """normalize, then normalize + clean, each fully materialized."""

        def raw():
            return {cab: self.spark.read.parquet(p) for cab, p in self.raw.items()}

        with tracer.span("normalize.unify"):
            _noop(unify(raw()))
        with tracer.span("clean.clean"):
            _noop(clean(unify(raw())))

    def traced_stages(self, tracer):
        self._stage_layers(tracer)
        output, (run_s,) = self.op(tracer.span)
        res, out = output
        with tracer.span("etl.read_curated"):
            _noop(read_curated(self.spark, out))
        metrics, bad = _etl_metrics(tracer, res, out), self.check(output)
        self.release(output)
        return metrics, run_s, bad


class TaxiAnalytics(TaxiEtl):
    """Set-up builds the curated table once; timed: ``read_curated`` plus
    the analysis sweep, each result fully materialized."""

    name = "taxi_analytics"

    def prepare(self) -> None:
        self.curated = os.path.join(self.work, "curated")
        self.input_rows = run_etl(self.spark, self.raw, self.curated).rows_out
        self.bind()

    def bind(self) -> None:
        self.zones = self.spark.read.parquet(self.zones_path)
        self.weather = self.spark.read.parquet(self.weather_path)

    def make_oracle(self, warm) -> None:
        self._analytics_oracle(self.curated)

    def _analytics_oracle(self, curated: str) -> None:
        builders = _analyses(read_curated(self.spark, curated), self.zones, self.weather)
        cols = {
            name: [(f.name, _kind(f.dataType)) for f in builders[name]().schema.fields]
            for name in oracle.ROW_LEVEL
        }
        self.expected = oracle.analytics_oracle(
            curated, self.zones_path, self.weather_path, cols
        )

    def _sweep(self, curated: str, span):
        out, steps = {}, []
        with span("taxi_analytics.sweep"):
            df = read_curated(self.spark, curated)
            for name, build in _analyses(df, self.zones, self.weather).items():
                t = time.perf_counter()
                with span(f"taxi_analytics.{name}"):
                    out[name] = _materialize(name, build())
                steps.append(time.perf_counter() - t)
        return out, steps

    def op(self, span=_no_span):
        return self._sweep(self.curated, span)

    def _check_analytics(self, output) -> str | None:
        for name, want in self.expected.items():
            bad = oracle.frames_match(output[name], want)
            if bad:
                return f"{name}: {bad}"
        return None

    def check(self, output) -> str | None:
        return self._check_analytics(output)

    def perturb(self, output):
        output["trips_by_dow"].loc[0, "trip_count"] += 1
        return output

    def release(self, output) -> None:
        pass

    def _analytics_metrics(self, tracer, output, curated: str) -> dict[str, float]:
        m = {
            "etl.read_curated_s": tracer.seconds("etl.read_curated"),
            "etl.curated_files": _tree_stats(curated)[0],
            "taxi_analytics.sweep_s": tracer.seconds("taxi_analytics.sweep"),
        }
        for name in output:
            m[f"taxi_analytics.{name}_s"] = tracer.seconds(f"taxi_analytics.{name}")
        return m

    def traced_stages(self, tracer):
        with tracer.span("etl.read_curated"):
            _noop(read_curated(self.spark, self.curated))
        output, _steps = self.op(tracer.span)
        metrics = self._analytics_metrics(tracer, output, self.curated)
        return metrics, tracer.seconds("taxi_analytics.sweep"), self.check(output)


class TaxiPipeline(TaxiAnalytics):
    """The paper's pipeline as one operation: ``run_etl`` into a fresh
    curated directory, then ``read_curated`` plus the analysis sweep over
    it. The analysis oracle is computed over the warm-up's curated table
    once that table has passed the ETL checks."""

    name = "taxi_pipeline"

    def prepare(self) -> None:
        self.bind()

    def make_oracle(self, warm) -> None:
        TaxiEtl.make_oracle(self, warm)
        etl_output = warm[0]
        bad = self._check_etl(etl_output)
        if bad:
            raise RuntimeError(f"warm-up curated table failed the ETL oracle: {bad}")
        self._analytics_oracle(etl_output[1])

    def op(self, span=_no_span):
        etl_output, etl_s = self._run_etl(span)
        frames, steps = self._sweep(etl_output[1], span)
        return (etl_output, frames), [etl_s, *steps]

    def check(self, output) -> str | None:
        return self._check_etl(output[0]) or self._check_analytics(output[1])

    def perturb(self, output):
        TaxiAnalytics.perturb(self, output[1])
        return output

    def release(self, output) -> None:
        TaxiEtl.release(self, output[0])

    def traced_stages(self, tracer):
        self._stage_layers(tracer)
        output, _steps = self.op(tracer.span)
        (res, out), frames = output
        with tracer.span("etl.read_curated"):
            _noop(read_curated(self.spark, out))
        metrics = {
            **_etl_metrics(tracer, res, out),
            **self._analytics_metrics(tracer, frames, out),
        }
        bad = self.check(output)
        self.release(output)
        traced_s = tracer.seconds("etl.run_etl") + tracer.seconds("taxi_analytics.sweep")
        return metrics, traced_s, bad


# ---------------------------------------------------------------------------
# doc_curation — the iterative, checkpoint-heavy path
# ---------------------------------------------------------------------------


class DocCuration(Workload):
    name = "doc_curation"

    def generate(self) -> None:
        self.docs_path = gen.write_documents(
            os.path.join(self.work, "in"), self.seed, self.sizes["n_docs"]
        )
        self.input_rows = self.sizes["n_docs"]

    def bind(self) -> None:
        self.docs = self.spark.read.parquet(self.docs_path)

    def make_oracle(self, warm) -> None:
        self.expected = oracle.curation_oracle(self.docs_path)

    def op(self, span=_no_span):
        t0 = time.perf_counter()
        with span("curate.curate_documents"):
            kept = (
                curate_documents(self.docs, **CURATE_ARGS)
                .select(F.col("doc_id").cast("long").alias("doc_id"), "lang", "source", "quality")
                .toPandas()
            )
        t1 = time.perf_counter()
        with span("curate.curation_audit"):
            audit = curation_audit(self.docs, **CURATE_ARGS).toPandas()
        t2 = time.perf_counter()
        return {"curate_documents": kept, "curation_audit": audit}, [t1 - t0, t2 - t1]

    def check(self, output) -> str | None:
        for name, want in self.expected.items():
            bad = oracle.frames_match(output[name], want)
            if bad:
                return f"{name}: {bad}"
        return None

    def perturb(self, output):
        output["curate_documents"] = output["curate_documents"].iloc[1:]
        return output

    def traced_stages(self, tracer):
        q_min = CURATE_ARGS["quality_threshold"]
        with tracer.span("text.score_fingerprint"):
            fp = (
                self.docs.withColumn("quality", quality_score(F.col("text")))
                .filter(F.col("quality") >= q_min)
                .withColumn("fingerprint", fingerprint(F.col("text")))
                .localCheckpoint(eager=True)
            )
        with tracer.span("dedup.exact_dedup"):
            keepers = exact_dedup(fp).select(F.col("keeper_id").alias("doc_id"))
            exact_kept = fp.join(keepers, "doc_id", "left_semi").localCheckpoint(eager=True)
        with tracer.span("dedup.minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs(
                exact_kept, verify_threshold=CURATE_ARGS["jaccard_threshold"]
            ).localCheckpoint(eager=True)
        with tracer.span("dedup.connected_components"):
            comp = connected_components(pairs).localCheckpoint(eager=True)
        out, steps = self.op(tracer.span)
        n = self.input_rows
        return {
            "text.score_fingerprint_s": tracer.seconds("text.score_fingerprint"),
            "text.quality_pass_ratio": fp.count() / n,
            "dedup.exact_dedup_s": tracer.seconds("dedup.exact_dedup"),
            "dedup.minhash_lsh_pairs_s": tracer.seconds("dedup.minhash_lsh_pairs"),
            "dedup.pairs": pairs.count(),
            "dedup.connected_components_s": tracer.seconds("dedup.connected_components"),
            "dedup.components": comp.select("component").distinct().count(),
            "curate.curate_documents_s": tracer.seconds("curate.curate_documents"),
            "curate.curation_audit_s": tracer.seconds("curate.curation_audit"),
            "curate.kept_ratio": len(out["curate_documents"]) / n,
        }, sum(steps), self.check(out)


WORKLOADS = {w.name: w for w in (TaxiEtl, TaxiAnalytics, TaxiPipeline, DocCuration)}
