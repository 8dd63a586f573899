"""The benchmark's workloads. Each drives engine layers through their public
functions on inputs generated from the seed, and checks the outputs.

A workload has three steps, called by ``run.py``:

* ``prepare(spark)`` generates and caches the input (part of set-up);
* ``op(spark, tracer, i)`` runs one op and returns the turns it processed;
  every call into a layer and every action sits in a span;
* ``check(spark)`` verifies the outputs of the last op, untimed, and returns
  the names of the checks that failed. When ``CHECK_RUNS_OP`` is set, the
  checks run the op's chain on the input themselves instead.

Set-up ends with one checked pass (an op, then ``check``; ``check`` alone
with ``CHECK_RUNS_OP``). Untimed ops follow until there have been
``WARM_UP_OPS`` passes and ``WARM_UP_S`` seconds have passed since
``prepare``. A workload with ``WARM_UP_OPS = 0`` is checked after its timed
ops instead.

``layers`` maps each layer the workload reports to the span counters it
reports for it; ``groups`` maps a reported layer to the span layers summed
into it. ``extra_metrics()`` returns the per-layer numbers that are not span
counters (sizes on disk, exact counts, compression).
"""

from __future__ import annotations

import os
import random
import shutil

from pyspark.sql import functions as F

from perfbench.spans import COUNTER_UNITS, Tracer
from timeseriestokenizer_spark import contract
from timeseriestokenizer_spark.datagen_spark import documents_spark, transcripts_spark
from timeseriestokenizer_spark.functions.quantize import (
    dequantize_with_edges,
    fit_edges_df,
    quantize_with_edges,
)
from timeseriestokenizer_spark.functions.scaling import (
    fit_scalers,
    inverse_scale_expr,
    scale_expr,
)
from timeseriestokenizer_spark.functions.signals import signals_narrow
from timeseriestokenizer_spark.operators.rollup import rollup_from_finer, rollup_tier
from timeseriestokenizer_spark.operators.tpe import tpe_roundtrip_tokens, tpe_train
from timeseriestokenizer_spark.oracle.compare import value_hash
from timeseriestokenizer_spark.oracle.numpy_oracle import TpeModel
from timeseriestokenizer_spark.plans.incremental import (
    read_tier,
    read_tier_with_cold,
    refresh_tiers,
    retention_sweep,
)
from timeseriestokenizer_spark.plans.manifest import read_manifest

TIERS = ("1m", "5m", "1h", "1d")
SKETCH_FAMILIES = ("hll", "hist", "kll", "heavy", "cms", "kmv")

# Span counters reported per layer. A call that only builds a lazy plan
# runs no jobs, so it reports its build time alone; the Python counters
# are reported only for layers whose plans hold Python nodes. Spill is 0
# at every layer at these input sizes and stays in the trace file only.
BUILD = ("wall_s",)
JVM = ("wall_s", "build_s", "jobs", "stages", "executor_run_ms", "executor_cpu_ms",
       "shuffle_write_bytes", "core_busy")
PY = JVM + ("py_run_ms",)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _differ(a, b) -> bool:
    """True unless ``a`` and ``b`` hold the same multiset of rows (one
    action: rows of ``a`` count +1, rows of ``b`` count -1)."""
    cols = a.columns
    return bool(
        a.select(*cols, F.lit(1).alias("_side"))
        .unionByName(b.select(*cols, F.lit(-1).alias("_side")))
        .groupBy(*cols).agg(F.sum("_side").alias("_d"))
        .filter(F.col("_d") != 0).limit(1).count()
    )


def _count_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


def _cascade(spark, turns, out: str, tracer, i: int) -> None:
    """signals_narrow → rollup_tier("1m") → rollup_from_finer 5m/1h/1d, each
    tier written as parquet and read back by the next (bench.py's rollup
    protocol)."""
    shutil.rmtree(out, ignore_errors=True)
    span = tracer.span
    with span("functions.signals", i):
        signals = signals_narrow(turns)
    with span("operators.rollup", i):
        tier = rollup_tier(signals, "1m")
    with span("operators.rollup", i, "action"):
        tier.write.parquet(f"{out}/1m")
    for prev, name in zip(TIERS, TIERS[1:]):
        with span("operators.rollup", i):
            tier = rollup_from_finer(spark.read.parquet(f"{out}/{prev}"), name)
        with span("operators.rollup", i, "action"):
            tier.write.parquet(f"{out}/{name}")


class RollupCascade:
    """signals_narrow → rollup_tier("1m") → rollup_from_finer 5m/1h/1d; each
    tier is written as parquet and the next one reads it back."""

    name = "rollup_cascade"
    layers = {"functions.signals": BUILD, "operators.rollup": JVM}
    groups: dict[str, tuple[str, ...]] = {}
    CONVS, AVG_LEN = 800, 200
    MIN_PARTITION = "64k"  # bench.py's
    WARM_UP_OPS, WARM_UP_S, CHECK_RUNS_OP = 2, 22.0, False

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.sizes = {"convs": self.CONVS, "avg_len": self.AVG_LEN}

    def prepare(self, spark) -> None:
        self.turns = transcripts_spark(
            spark, C=self.CONVS, avg_len=self.AVG_LEN, seed=self.seed
        ).cache()
        self.n = self.turns.count()
        self.sizes["turns"] = self.n

    def op(self, spark, tracer, i: int) -> int:
        self.last = os.path.join(self.work, f"op{i % 2}")
        _cascade(spark, self.turns, self.last, tracer, i)
        return self.n

    def check(self, spark) -> list[str]:
        failed = []
        sums = dict(
            spark.read.parquet(*[f"{self.last}/{t}" for t in TIERS])
            .withColumn("tier", F.regexp_extract(F.input_file_name(), r"/(\w+)/part-", 1))
            .groupBy("tier").agg(F.sum("n_turns")).collect()
        )
        for t in TIERS:
            if sums.get(t) != self.n:
                failed.append(f"rollup_cascade.sum_n_turns_{t}")
        cascaded = spark.read.parquet(f"{self.last}/1d").withColumn(
            "bucket_ts", F.col("bucket_ts").cast("timestamp"))
        direct = rollup_tier(signals_narrow(self.turns), "1d")
        if _differ(cascaded, direct):
            failed.append("rollup_cascade.cascaded_1d_equals_direct")
        return failed

    def extra_metrics(self) -> dict[str, float]:
        return {}


class TokenizeRoundtrip:
    """fit_scalers/scale_expr → fit_edges_df (equal width) →
    quantize_with_edges → tpe_roundtrip_tokens → dequantize_with_edges →
    inverse_scale_expr, written to noop."""

    name = "tokenize_roundtrip"
    layers = {
        "functions.scaling": BUILD,
        "functions.quantize": BUILD,
        "operators.tpe": PY + ("py_bytes_sent", "py_bytes_returned"),
    }
    groups: dict[str, tuple[str, ...]] = {}
    SERIES, AVG_LEN = 256, 200
    # python_stage_conf's AQE floor, scaled with the input: bench.py's 64k
    # is set for 1M turns; at this 20x smaller input an op's shuffles write
    # about one 64k floor in all, and warm ops ran 3.0-4.0 s at 64k against
    # 2.5-2.7 s at 4k (README.md)
    MIN_PARTITION = "4k"
    # the checks run the whole chain: they are the set-up's cold pass
    WARM_UP_OPS, WARM_UP_S, CHECK_RUNS_OP = 2, 22.0, True
    N_EDGES, TARGET_VOCAB, BASE_VOCAB = 50, 80, 50
    # seeded samples of series: TPE compression is measured on the first,
    # merge tables are compared with the scalar oracle on the second
    RATIO_SAMPLE, ORACLE_SAMPLE = 50, 8

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.sizes = {"series": self.SERIES, "avg_len": self.AVG_LEN}

    def prepare(self, spark) -> None:
        self.series = (
            transcripts_spark(spark, C=self.SERIES, avg_len=self.AVG_LEN, seed=self.seed)
            .select(
                "conv_id",
                F.col("turn_idx").cast("long").alias("pos"),
                F.length("text").cast("double").alias("value"),
            )
            .cache()
        )
        self.n = self.series.count()
        self.sizes["turns"] = self.n

    def _chain(self, series, tracer, i: int) -> dict:
        span = tracer.span
        with span("functions.scaling", i):
            scalers = fit_scalers(series, "conv_id", "value")
            scaled = scale_expr(series, scalers, "conv_id", "value")
        with span("functions.quantize", i):
            edges = fit_edges_df(scaled, "conv_id", "scaled", self.N_EDGES)
            quant = quantize_with_edges(scaled, edges, "conv_id", "scaled")
        with span("operators.tpe", i):
            decoded = tpe_roundtrip_tokens(
                quant.select("conv_id", "pos", "token"), "conv_id", "token", "pos",
                self.TARGET_VOCAB, self.BASE_VOCAB,
            ).withColumnRenamed("series_id", "conv_id")
        with span("functions.quantize", i):
            recon = dequantize_with_edges(decoded, edges, "conv_id", "token")
        with span("functions.scaling", i):
            out = inverse_scale_expr(recon, scalers, "conv_id", "recon")
        return {"scalers": scalers, "edges": edges, "quant": quant, "out": out}

    def op(self, spark, tracer, i: int) -> int:
        out = self._chain(self.series, tracer, i)["out"]
        # one action materializes the whole chain; its only Python node is
        # the TPE mapInPandas, so the action is charged to operators.tpe
        with tracer.span("operators.tpe", i, "action"):
            _noop(out)
        return self.n

    def check(self, spark) -> list[str]:
        failed = []
        c = self._chain(self.series, Tracer(None, 1), -1)
        n1 = self.N_EDGES - 1
        half = c["edges"].select(
            "series_id", ((F.col("hi") - F.col("lo")) / n1 / 2).alias("half")
        )
        std = c["scalers"].select("series_id", "std")
        src = c["quant"].select(
            "conv_id", "pos", "value", "scaled", F.col("token").alias("token_in")
        )
        got = c["out"].select(
            "conv_id", "pos", "token", "recon", F.col("value").alias("value_out")
        )
        j = (
            src.join(got, ["conv_id", "pos"], "full_outer")
            .join(half, F.col("conv_id") == F.col("series_id"), "left").drop("series_id")
            .join(std, F.col("conv_id") == F.col("series_id"), "left").drop("series_id")
        )
        tol = 1e-9
        row = j.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((~F.col("token").eqNullSafe(F.col("token_in"))).cast("long")).alias("bad_tok"),
            F.sum((F.abs(F.col("recon") - F.col("scaled"))
                   > F.col("half") * (1 + tol) + tol).cast("long")).alias("bad_recon"),
            F.sum((F.abs(F.col("value_out") - F.col("value"))
                   > F.col("half") * F.col("std") * (1 + tol) + tol).cast("long")).alias("bad_value"),
        ).first()
        if row["rows"] != self.n or row["bad_tok"]:
            failed.append("tokenize_roundtrip.decoded_equals_input")
        if row["bad_recon"] or row["bad_value"]:
            failed.append("tokenize_roundtrip.recon_within_half_bin")

        # production merge tables vs the oracle's scalar trainer, on a seeded
        # sample of series
        self.quant = c["quant"]
        sample = self._sample(self.RATIO_SAMPLE)[: self.ORACLE_SAMPLE]
        quant = self.quant.filter(F.col("conv_id").isin(sample))
        prod = {r["series_id"]: r for r in tpe_train(
            quant, "conv_id", "token", "pos", self.TARGET_VOCAB, self.BASE_VOCAB
        ).collect()}
        seqs = {
            r["conv_id"]: [x["t"] for x in r["seq"]]
            for r in quant.groupBy("conv_id")
            .agg(F.expr("array_sort(collect_list(struct(pos as o, token as t)))").alias("seq"))
            .collect()
        }
        for sid in sample:
            oracle = TpeModel(self.BASE_VOCAB)
            toks = seqs[sid]
            if toks and max(toks) > oracle.actual_vocab_size:
                oracle.actual_vocab_size = max(toks)
            oracle._train_scalar(toks, self.TARGET_VOCAB - self.BASE_VOCAB)
            got_merges = {(m["left"], m["right"]): m["id"] for m in prod[sid]["merges"]}
            if (got_merges != oracle.merges
                    or prod[sid]["actual_vocab_size"] != oracle.actual_vocab_size):
                failed.append("tokenize_roundtrip.merges_equal_scalar_oracle")
                break
        return failed

    def _sample(self, k: int) -> list[str]:
        ids = [f"conv_{i:06d}" for i in range(self.SERIES)]  # transcripts_spark's ids
        return random.Random(self.seed).sample(ids, k)

    def extra_metrics(self) -> dict[str, float]:
        # traced runs only: TPE compression on a larger seeded sample
        quant = self.quant.filter(F.col("conv_id").isin(self._sample(self.RATIO_SAMPLE)))
        tot = tpe_train(
            quant, "conv_id", "token", "pos", self.TARGET_VOCAB, self.BASE_VOCAB
        ).agg(F.sum("in_len"), F.sum("out_len")).first()
        return {"operators.tpe.compression_ratio": tot[0] / tot[1]}


class TierStoreDaily:
    """A tier-store lifecycle on a fresh store:

    1. a backfill of the history days through refresh_tiers (auto picks the
       batch shape; sketch families start with the nightly day);
    2. the nightly refresh_tiers(days=[d]) with the job's defaults, every
       sketch family on;
    3. a retention sweep whose 1-day 1m TTL cold-packs the older days;
    4. two reads: read_tier_with_cold on 1m, and a per-conversation
       aggregate over read_tier on 1h."""

    name = "tier_store_daily"
    layers = {
        "plans.incremental.backfill": JVM,
        "plans.incremental.refresh_day": PY,
        "plans.incremental.retention_sweep": PY,
        # a scan of the hot partitions and the unpacked cold blobs: no shuffle
        "plans.incremental.read_tier_with_cold": tuple(
            k for k in PY if k != "shuffle_write_bytes"),
        "plans.incremental.read_tier": JVM,
    }
    groups: dict[str, tuple[str, ...]] = {}
    CONVS, AVG_LEN, SPAN_DAYS = 1000, 40, 3
    MIN_PARTITION = "64k"  # bench.py's
    # run on its own, no warm-up: the nightly job runs in a fresh process,
    # so its first lifecycle is the one users see
    WARM_UP_OPS, WARM_UP_S, CHECK_RUNS_OP = 0, 0.0, False
    # 1m keeps one day: every backfilled day is cold-packed, then dropped
    POLICY = {"1m": 86400, "5m": None, "1h": None, "1d": None}
    SKETCHES_OFF = {f"with_{f}": False for f in SKETCH_FAMILIES}

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.sizes = {"convs": self.CONVS, "avg_len": self.AVG_LEN}

    def prepare(self, spark) -> None:
        self.raw = transcripts_spark(
            spark, C=self.CONVS, avg_len=self.AVG_LEN, seed=self.seed,
            span_days=self.SPAN_DAYS,
        ).cache()
        days = self.raw.groupBy(F.to_date("ts").alias("d")).count().collect()
        self.days = sorted(str(r["d"]) for r in days)
        self.n = sum(r["count"] for r in days)
        self.sizes.update(turns=self.n, days=len(self.days))

    def op(self, spark, tracer, i: int) -> int:
        self.store = os.path.join(self.work, f"store{i % 2}")
        shutil.rmtree(self.store, ignore_errors=True)
        span = tracer.span
        *history, night = self.days
        with span("plans.incremental.backfill", i):
            # history load: refresh_tiers on 3+ new days takes the batch shape
            refresh_tiers(
                spark, self.raw.filter(F.to_date("ts") < F.lit(night)), self.store,
                days=history, **self.SKETCHES_OFF,
            )
        manifest = os.path.join(self.store, "_manifest")
        files0 = _count_files(manifest)
        with span("plans.incremental.refresh_day", i):
            refresh_tiers(spark, self.raw, self.store, days=[night])
        self.jobs_refresh = tracer.spans[-1].get("jobs", 0)
        self.manifest_files = _count_files(manifest) - files0
        self.sketch_bytes = {
            f: sum(_dir_bytes(os.path.join(self.store, f"{f}_{t}")) for t in TIERS)
            for f in SKETCH_FAMILIES
        }
        with span("plans.incremental.retention_sweep", i):
            retention_sweep(spark, self.store, night, policy=self.POLICY)
        self.store_bytes = _dir_bytes(self.store)
        with span("plans.incremental.read_tier_with_cold", i):
            cold = read_tier_with_cold(spark, self.store, "1m")
        with span("plans.incremental.read_tier_with_cold", i, "action"):
            _noop(cold)
        with span("plans.incremental.read_tier", i):
            per_conv = read_tier(spark, self.store, "1h").groupBy("conv_id").agg(
                F.sum("n_turns").alias("n_turns"), F.sum("sum_lat").alias("sum_lat"),
                F.max("max_lat").alias("max_lat"),
            )
        with span("plans.incremental.read_tier", i, "action"):
            _noop(per_conv)
        return self.n

    def check(self, spark) -> list[str]:
        failed = []

        def per_conv(df):
            return df.groupBy("conv_id").agg(
                F.count(F.lit(1)).alias("n"), F.sum("sum_lat").alias("sum_lat")
            )

        got = per_conv(read_tier_with_cold(spark, self.store, "1m"))
        want = per_conv(rollup_tier(signals_narrow(self.raw), "1m"))
        if _differ(got, want):
            failed.append("tier_store_daily.hot_cold_1m_equals_direct_rollup")
        m = read_manifest(spark, os.path.join(self.store, "_manifest"))
        listed = {r[0] for r in m.filter(F.col("tier") == "1m").select("part_key").collect()}
        if not set(self.days) <= listed:
            failed.append("tier_store_daily.manifest_lists_every_day")
        return failed

    def extra_metrics(self) -> dict[str, float]:
        import pyarrow.parquet as pq

        cold = pq.read_table(
            os.path.join(self.store, "cold_1m"), columns=["packed_bytes", "n_points"]
        )
        out = {
            "plans.incremental.jobs_per_refresh_day": self.jobs_refresh,
            "plans.manifest.files_per_refresh_day": self.manifest_files,
            "plans.incremental.store_bytes_per_turn": self.store_bytes / self.n,
            "operators.gorilla.packed_bytes_per_point":
                sum(cold.column("packed_bytes").to_pylist())
                / sum(cold.column("n_points").to_pylist()),
        }
        for f, b in self.sketch_bytes.items():
            out[f"plans.incremental.sketch_bytes.{f}"] = b
        return out


def _events(spark, seed: int):
    """A seeded ``events`` table in the shape of the sf0.01 test
    table (event_id, ts, user_id, event_type, value, props), made with
    ``transcripts_spark``: one or two events per conversation,
    conversations spread over ``EVENT_DAYS`` days and dealt round-robin to
    ``USERS`` users, values in whole cents."""
    q = QueryMix
    conv = F.substring("conv_id", 6, 6).cast("long")  # "conv_000123" → 123
    h = F.abs(F.xxhash64("conv_id", "turn_idx", F.lit(seed + 2)))
    kinds = F.array(*[F.lit(k) for k in ("click", "signup", "error", "view", "purchase")])
    return transcripts_spark(
        spark, C=q.EVENT_CONVS, avg_len=2, seed=seed, span_days=q.EVENT_DAYS
    ).select(
        (conv * 1000 + F.col("turn_idx")).alias("event_id"),
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        (conv % q.USERS).alias("user_id"),
        F.element_at(kinds, (h % 5 + 1).cast("int")).alias("event_type"),
        ((h % 49002 + 1) / 100.0).alias("value"),
        F.concat(F.lit('{"k": '), (h % 100).cast("string"), F.lit("}")).alias("props"),
    )


class QueryMix:
    """Driver-contract queries on seeded ``events`` and ``documents``
    tables, grouped by the query-layer operator module each one calls.
    Before each query the cache is cleared; the query is built (its eager
    jobs included) and written to noop. Each result is checked against
    its ``contract.ORACLE_SQL`` on DuckDB over the same files."""

    name = "query_mix"
    QUERIES = {
        "simhash_near_pairs": "operators.dedup",
        "series_correlation": "operators.correlate",
        "rfm_segments": "operators.behavior",
        "heavy_hitters_cascade": "contract.other",
        "kll_p95_cascade": "contract.other",
    }
    layers = {
        "contract": ("wall_s", "build_s", "jobs", "executor_run_ms", "py_run_ms", "core_busy"),
        "operators.dedup": PY,
        "operators.correlate": PY,
        "operators.behavior": JVM,
        "contract.other": PY,
    }
    groups = {"contract": tuple(sorted(set(QUERIES.values())))}
    # the sf0.01 test tables' shape: ≈10k events of 150 users over 30 days,
    # 500 documents
    EVENT_CONVS, USERS, EVENT_DAYS, DOCS = 6667, 150, 30, 500
    MIN_PARTITION = "64k"  # bench.py's
    WARM_UP_OPS, WARM_UP_S, CHECK_RUNS_OP = 1, 0.0, False

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.tables = os.path.join(work, "tables")
        self.sizes = {"documents": self.DOCS, "users": self.USERS}

    def prepare(self, spark) -> None:
        import duckdb

        _events(spark, self.seed).write.parquet(f"{self.tables}/events.parquet")
        documents_spark(spark, self.DOCS, seed=self.seed).write.parquet(
            f"{self.tables}/documents.parquet")
        self.duck = duckdb.connect()
        for t in ("events", "documents"):
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                              f"read_parquet('{self.tables}/{t}.parquet/*.parquet')")
        self.n = self.duck.execute("SELECT count(*) FROM events").fetchone()[0]
        self.sizes["events"] = self.n

    def op(self, spark, tracer, i: int) -> int:
        for q, module in self.QUERIES.items():
            spark.catalog.clearCache()
            with tracer.span(module, i):
                df = contract.QUERIES[q](spark, self.tables)
            with tracer.span(module, i, "action"):
                _noop(df)
        return self.n

    def check(self, spark) -> list[str]:
        failed = []
        for q in self.QUERIES:
            df = contract.QUERIES[q](spark, self.tables)
            rows = [tuple(r) for r in df.collect()]
            res = self.duck.execute(contract.ORACLE_SQL[q])
            cols = [d[0] for d in res.description]
            if (sorted(df.columns) != sorted(cols)
                    or value_hash(rows, df.columns) != value_hash(res.fetchall(), cols)):
                failed.append(f"query_mix.{q}_equals_oracle")
        return failed

    def extra_metrics(self) -> dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (RollupCascade, TokenizeRoundtrip, TierStoreDaily, QueryMix)}
# A traced run of the key workload also runs the value workload, once,
# after its timed ops: the workloads without a slot of their own in
# BENCHMARK.json (see run.py).
TRACED_EXTRA = {"rollup_cascade": "tier_store_daily", "tokenize_roundtrip": "query_mix"}

# per-layer numbers that are not span counters, with their units
EXTRA_UNITS = {
    "operators.tpe.compression_ratio": "ratio",
    "plans.incremental.jobs_per_refresh_day": "count",
    "plans.manifest.files_per_refresh_day": "count",
    "plans.incremental.store_bytes_per_turn": "B/turn",
    "operators.gorilla.packed_bytes_per_point": "B/point",
    **{f"plans.incremental.sketch_bytes.{f}": "B" for f in SKETCH_FAMILIES},
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, in output order, with
    its unit."""
    units = {"session.start_s": "s", "datagen_spark.wall_s": "s", "process.peak_rss_mb": "MiB"}
    for w in WORKLOADS.values():
        for layer, counters in w.layers.items():
            for k in counters:
                units[f"{layer}.{k}"] = COUNTER_UNITS[k]
    units.update(EXTRA_UNITS)
    return units
