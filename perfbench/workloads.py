"""The benchmark workloads. Each is a closed loop with one client: the
runner calls `prepare` (untimed), `run` (timed), then `check` (untimed),
and starts the next op only when the previous one has returned.

`daily_cycle` is one day of the PriceCatcher product. Its op runs two
parts in turn, each through its own entry point: the month build
(`MonthBuild`) and the streaming top-up with the day's file (`DailyTopup`).
`price_queries` is the read side: a lookup and a rollup over the SQL views
(`PriceQueries`); its traced runs also run the `--prepare-corpus` path
(`CorpusPrep`).

Every workload drives the public API of `opendosm_parquet_to_sqlite_spark`
with generated inputs only, and records spans around its calls into the
program's layers (no-ops unless the run is traced).
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import numpy as np

import checks
import gen
from statistics import median

from opendosm_parquet_to_sqlite_spark.caching import release_cached
from opendosm_parquet_to_sqlite_spark.operators.corpus import prepare_training_data
from opendosm_parquet_to_sqlite_spark.plans.pipeline import run_pipeline
from opendosm_parquet_to_sqlite_spark.plans.sql_surface import register_pricecatcher_views
from opendosm_parquet_to_sqlite_spark.sinks.dataset import write_dataset
from opendosm_parquet_to_sqlite_spark.streaming.pipeline import stream_prices_to_sqlite


class SetupError(RuntimeError):
    """The workload's set-up produced a wrong result; the run is void."""


def _mb(path: Path) -> float:
    if path.is_dir():
        return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / 1e6
    return path.stat().st_size / 1e6


def _land(src: Path, landing: Path) -> None:
    """Publish a file into a watched directory atomically: the stream's
    file listing skips dot-files, so it never sees a partial copy."""
    tmp = landing / f".{src.name}.part"
    shutil.copyfile(src, tmp)
    tmp.replace(landing / src.name)


class Workload:
    """A workload, or one part of `daily_cycle`."""

    name = ""
    generate = staticmethod(gen.month_trio)  # the seeded input it reads

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.tracer = ctx.tracer

    def setup(self) -> None:
        """Everything before the first timed op, including warm-up ops."""

    def warm_up(self, ops: int) -> None:
        """Run `ops` untimed ops (JIT and codegen settle over the first few)
        and fail the set-up if any is wrong."""
        for _ in range(ops):
            self.prepare(-1)
            self.run(-1)
            problems = self.check(-1)
            if problems:
                raise SetupError(problems)

    def prepare(self, k: int) -> None:
        """Untimed preparation of op k."""

    def run(self, k: int) -> None:
        raise NotImplementedError

    def check(self, k: int) -> list[str]:
        return []

    def out_mb(self) -> float:
        """Size of what the op hands its user."""
        raise NotImplementedError

    def after_traced(self, engine: dict) -> None:
        """Record layer counters of a traced op (outside its timed region)."""

    def summary(self, latencies: list[float]) -> dict[str, tuple[float, str]]:
        """Finer metrics of the workload, printed by name above the JSON line."""
        return {}


class MonthBuild(Workload):
    """The reference's product: fetch -> cleanse -> dedup -> SQLite -> zip."""

    name = "month_build"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.served = ctx.inputs / "pricecatcher"
        con = checks.oracle(self.served, gen.MONTH)
        self.expected = checks.month_expectation(con)
        con.close()
        self.cache = ctx.work / "source_cache"
        self.out = ctx.work / "out"
        self.result = None
        self.captured: dict = {}

    def _build(self) -> None:
        self.result = run_pipeline(
            self.ctx.spark,
            out_dir=self.out,
            cache_dir=self.cache,
            month=gen.MONTH,
            base_url=f"file://{self.ctx.inputs}",
            force=True,
        )

    def prepare(self, k: int) -> None:
        # A new upstream revision of the month file, as the daily cron sees
        # it: the lookups stay cached, the month file is fetched again.
        name = f"pricecatcher_{gen.MONTH}.parquet"
        (self.cache / name).unlink(missing_ok=True)
        (self.cache / f"{name}.meta.json").unlink(missing_ok=True)

    def run(self, k: int) -> None:
        self._build()

    def check(self, k: int) -> list[str]:
        return checks.check_month_artifact(self.result.db_path, self.result.zip_path, self.expected)

    def out_mb(self) -> float:
        # both files the build leaves: a SQLite change that grows the db but
        # barely the zip (no VACUUM: free pages compress well) still shows
        return _mb(self.result.db_path) + _mb(self.result.zip_path)

    def after_traced(self, engine: dict) -> None:
        t = self.tracer
        db_mb, zip_mb = _mb(self.result.db_path), _mb(self.result.zip_path)
        t.add("sqlite.rows", sum(self.result.row_counts.values()))
        t.add("sqlite.db_mb", db_mb)
        t.add("zip.mb", zip_mb)
        # dedup in isolation: the built `prices` plan run into a no-op sink
        prices = self.captured["tables"]["prices"]
        self.ctx.engine.take()
        with t.span("operators.dedup.noop_exec"):
            prices.write.format("noop").mode("overwrite").save()
        d = self.ctx.engine.take()
        t.add("dedup.rows_in", d["input_records"])
        t.add("dedup.rows_out", self.result.row_counts["prices"])
        t.add("dedup.shuffle_mb", d["shuffle_mb"])


class DailyTopup(Workload):
    """Streaming top-up of the month artifact, one landed day file per op.

    Set-up drains the first BASE_DAYS days into a base artifact and keeps a
    copy of it with its checkpoint. Ops land the remaining days one by one;
    when they run out, or `reset` is called, the artifact and checkpoint are
    restored from the copy, so every cycle starts from the same base state
    (latency grows with state, so an ever-growing artifact would drift)."""

    name = "daily_topup"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        days = sorted((ctx.inputs / "days").glob("*.parquet"))
        self.base_days, self.new_days = days[: gen.BASE_DAYS], days[gen.BASE_DAYS :]
        self.landing = ctx.work / "landing"
        self.base = ctx.work / "base"
        self.cycle_dir: Path | None = None
        self.cycles = 0
        self.day = -1
        con = checks.duckdb.connect()
        self.expected = [
            checks.champion_digest(con, checks.latest_sql(self.base_days + self.new_days[:n]))
            for n in range(len(self.new_days) + 1)
        ]
        con.close()
        self.schema = None

    def _stream(self, where: Path) -> None:
        with self.tracer.span("streaming.pipeline.stream_prices_to_sqlite"):
            stream_prices_to_sqlite(
                self.ctx.spark, self.landing, where / "prices.db", where / "ckpt", self.schema
            )

    def reset(self) -> None:
        for f in self.new_days:
            (self.landing / f.name).unlink(missing_ok=True)
        if self.cycle_dir is not None:
            shutil.rmtree(self.cycle_dir)
        self.cycles += 1
        self.cycle_dir = self.ctx.work / f"cycle{self.cycles}"
        shutil.copytree(self.base, self.cycle_dir)
        self.day = -1

    def setup(self) -> None:
        self.landing.mkdir(parents=True)
        for f in self.base_days:
            _land(f, self.landing)
        self.schema = self.ctx.spark.read.parquet(str(self.base_days[0])).schema
        self._stream(self.base)
        problems = checks.check_topup_artifact(self.base / "prices.db", self.expected[0])
        if problems:
            raise SetupError(problems)
        self.reset()

    def prepare(self, k: int) -> None:
        if self.day + 1 == len(self.new_days):
            self.reset()
        self.day += 1
        _land(self.new_days[self.day], self.landing)
        if self.tracer.enabled:
            self.ctx.stream.reset()

    def run(self, k: int) -> None:
        self._stream(self.cycle_dir)

    def check(self, k: int) -> list[str]:
        return checks.check_topup_artifact(self.cycle_dir / "prices.db", self.expected[self.day + 1])

    def after_traced(self, engine: dict) -> None:
        t = self.tracer
        progress = self.ctx.stream.wait_terminated()
        for p in progress:
            t.add("stream.trigger_s", p.durationMs.get("triggerExecution", 0) / 1e3)
            t.add("stream.add_batch_s", p.durationMs.get("addBatch", 0) / 1e3)
            t.add("stream.input_rows", p.numInputRows)
            for op in p.stateOperators:
                t.add("stream.state_rows_updated", op.numRowsUpdated)
        if progress and progress[-1].stateOperators:
            last = progress[-1].stateOperators
            t.add("stream.state_rows", sum(op.numRowsTotal for op in last))
            t.add("stream.state_mb", sum(op.memoryUsedBytes for op in last) / 1e6)


LOOKUP_SQL = """
SELECT p.premise_code, pr.premise, pr.district, p.price, p.date
FROM prices p JOIN premises pr ON p.premise_code = pr.premise_code
WHERE p.item_code = {item} AND pr.state = '{state}'
ORDER BY p.price, p.premise_code
LIMIT 10"""

ROLLUP_SQL = """
SELECT pr.state, i.item_group, count(*) AS n, avg(p.price) AS avg_price,
       min(p.price) AS min_price, max(p.price) AS max_price
FROM prices p
JOIN premises pr ON p.premise_code = pr.premise_code
JOIN items i ON p.item_code = i.item_code
GROUP BY pr.state, i.item_group
ORDER BY pr.state, i.item_group"""


class PriceQueries(Workload):
    """Consumer SQL over the registered views. One op is one selective
    lookup followed by one full rollup; lookups draw a popular item and a
    state from the seeded stream. Every query re-runs cleanse + dedup
    under the views, so reuse across queries is what this workload shows."""

    name = "price_queries"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.served = ctx.inputs / "pricecatcher"
        self.oracle = checks.oracle(self.served, gen.MONTH)
        self.rng = np.random.default_rng([ctx.seed, 3])
        self.results: list[tuple[str, list]] = []
        self.lookup_s: list[float] = []
        self.rollup_s: list[float] = []

    def _query(self, kind: str, sql: str) -> None:
        t = self.tracer
        if t.enabled:
            self.ctx.engine.delta()  # so the next delta is this query's alone
        start = time.perf_counter()
        with t.span(f"sql.{kind}"):
            with t.span("sql.plan"):
                df = self.ctx.spark.sql(sql)
                if t.enabled:  # force physical planning so it is timed apart
                    df._jdf.queryExecution().executedPlan()
            with t.span("sql.exec"):
                rows = [tuple(r) for r in df.collect()]
        elapsed = time.perf_counter() - start
        if t.enabled:
            d = self.ctx.engine.delta()
            t.add("sql.rows_scanned", d["input_records"])
            t.add("sql.results", len(rows))
            t.add("sql.shuffle_mb", d["shuffle_mb"])
        self.results.append((sql, rows))
        if not t.enabled:
            (self.lookup_s if kind == "lookup" else self.rollup_s).append(elapsed)

    def setup(self) -> None:
        with self.tracer.span("plans.sql_surface.register_pricecatcher_views"):
            register_pricecatcher_views(
                self.ctx.spark,
                str(self.served / f"pricecatcher_{gen.MONTH}.parquet"),
                str(self.served / "lookup_premise.parquet"),
                str(self.served / "lookup_item.parquet"),
            )

    def prepare(self, k: int) -> None:
        self.results.clear()
        self.item = int(self.rng.integers(1, 11))  # the 10 most popular items
        self.state = f"State {int(self.rng.integers(0, gen.N_STATES)):02d}"

    def run(self, k: int) -> None:
        self._query("lookup", LOOKUP_SQL.format(item=self.item, state=self.state))
        self._query("rollup", ROLLUP_SQL)

    def check(self, k: int) -> list[str]:
        problems = []
        for sql, rows in self.results:
            want = self.oracle.execute(sql).fetchall()
            if not checks.same_rows(rows, want):
                problems.append(f"{len(rows)} rows differ from DuckDB's {len(want)} for {sql.split()[:6]}")
        return problems


class DailyCycle(Workload):
    """One day of the product: the month build, then the top-up with the
    day's file. Each part is timed apart in untraced ops, so the op's
    latency can be split into build_s and topup_s. The consumer queries are
    left to `price_queries`, so a change to the views or their caching
    leaves this workload unchanged."""

    name = "daily_cycle"
    warm_up_ops = 2  # after one, the next op is still slower than later ones

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.build = MonthBuild(ctx)
        self.topup = DailyTopup(ctx)
        self.parts = (self.build, self.topup)
        self.captured = self.build.captured
        self.part_s: dict[str, list[float]] = {}

    def setup(self) -> None:
        for part in self.parts:
            part.setup()
        self.warm_up(self.warm_up_ops)
        self.topup.reset()
        self.part_s = {part.name: [] for part in self.parts}

    def prepare(self, k: int) -> None:
        for part in self.parts:
            part.prepare(k)

    def run(self, k: int) -> None:
        for part in self.parts:
            start = time.perf_counter()
            with self.tracer.span(f"{part.name}.run"):
                part.run(k)
            if not self.tracer.enabled:
                self.part_s.setdefault(part.name, []).append(time.perf_counter() - start)

    def check(self, k: int) -> list[str]:
        return [f"{part.name}: {p}" for part in self.parts for p in part.check(k)]

    def out_mb(self) -> float:
        return self.build.out_mb()

    def after_traced(self, engine: dict) -> None:
        for part in self.parts:
            part.after_traced(engine)

    def summary(self, latencies):
        result = self.build.result
        return {
            "build_s": (median(self.part_s["month_build"]), "s"),
            "topup_s": (median(self.part_s["daily_topup"]), "s"),
            "db_mb": (_mb(result.db_path), "MB"),
            "zip_mb": (_mb(result.zip_path), "MB"),
        }


class ReadSide(PriceQueries):
    """`price_queries`: the read side with every sink idle, so a SQLite or
    zip change that moves daily_cycle must leave it unchanged.
    A traced run also prepares the seeded corpus after each traced op,
    outside the op's timed region, so the corpus layers are traced too."""

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.corpus: CorpusPrep | None = None
        self.corpus_problems: list[str] = []

    def setup(self) -> None:
        super().setup()
        self.warm_up(2)
        self.lookup_s.clear()
        self.rollup_s.clear()
        if self.tracer.enabled:
            docs = gen.corpus(self.ctx.inputs.parent, self.ctx.seed) / "docs.parquet"
            self.corpus = CorpusPrep(self.ctx, docs)
            self.corpus.setup()

    def prepare(self, k: int) -> None:
        super().prepare(k)
        self.corpus_problems = []

    def check(self, k: int) -> list[str]:
        return super().check(k) + self.corpus_problems

    def out_mb(self) -> float:
        text = "\n".join(",".join(map(str, r)) for _, rows in self.results for r in rows)
        return len(text.encode()) / 1e6

    def after_traced(self, engine: dict) -> None:
        self.ctx.engine.take()
        self.corpus.run(-1)
        self.corpus.after_traced(self.ctx.engine.take())
        self.corpus_problems = [f"corpus_prep: {p}" for p in self.corpus.check(-1)]

    def summary(self, latencies):
        return {
            "lookup_query_s": (median(self.lookup_s), "s"),
            "rollup_query_s": (median(self.rollup_s), "s"),
        }


class CorpusPrep(Workload):
    """The `--prepare-corpus` path: scrub, gates, exact and near dedup,
    decontamination against a 1/97 holdout, mix/split, pack, and the
    split-partitioned parquet write. Only traced runs of `price_queries`
    run it: as a workload of its own, its median op latency varied between
    runs by up to 0.29 of the median (quartile distance over ten seeds),
    more than the benchmark's largest bound allows."""

    name = "corpus_prep"

    def __init__(self, ctx, docs: Path) -> None:
        super().__init__(ctx)
        self.docs = docs
        self.out = ctx.work / "corpus_out"
        self.reference: tuple[int, str] | None = None
        self.candidates = sum(1 for i in range(gen.CORPUS_DOCS) if i % 97 != 0)

    def run(self, k: int) -> None:
        from pyspark.sql import functions as F

        docs = self.ctx.spark.read.parquet(str(self.docs))
        bench = docs.filter(F.col("doc_id") % 97 == 0)
        cand = docs.filter(F.col("doc_id") % 97 != 0)
        with self.tracer.span("operators.corpus.prepare_training_data"):
            out = prepare_training_data(
                cand.select("doc_id", "source", "text"), bench, "text", "doc_id", "source",
                rates={}, default_rate=1.0, budget=2048,
            )
        with self.tracer.span("sinks.dataset.write_dataset"):
            write_dataset(
                out, str(self.out), partition_by=["split"],
                sort_within_by=["source", "block", "seq_in_block"],
            )
        release_cached()

    def setup(self) -> None:
        self.warm_up(1)  # its output is the reference for every later op

    def check(self, k: int) -> list[str]:
        got = checks.dataset_digest(self.out)
        if self.reference is None:
            self.reference = got
            return [] if got[0] else ["corpus_prep kept no rows"]
        if got != self.reference:
            return [f"output {got[0]} rows / {got[1][:12]} != first op's {self.reference[0]} / {self.reference[1][:12]}"]
        return []

    def after_traced(self, engine: dict) -> None:
        self.tracer.add("corpus.rows_in", self.candidates)
        self.tracer.add("corpus.rows_out", self.reference[0])
        self.tracer.add("corpus.shuffle_mb", engine["shuffle_mb"])


WORKLOADS = {w.name: w for w in (DailyCycle, ReadSide)}
