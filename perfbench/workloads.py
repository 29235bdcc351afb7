"""The benchmark's workloads. Each drives the package's public functions
over generated inputs in a closed loop with one client, times every
operation, and checks the outputs afterwards, outside the timed loop.

A workload object has four parts the runner calls in order:
``warmup()`` (untimed, charged to set-up), ``next_op(left)`` (the loop
body, given the seconds left in the time box; ``None`` ends the loop),
``final_ops()`` (the closing replays, after the time box), ``check()``
(output checks) and, in the traced run only, ``layers()`` (per-layer
measurements outside the loop).
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
import procs
import spans


@dataclass
class Op:
    kind: str
    key: int  # day or batch index the op reads
    items: int  # ticks or docs offered
    expect: int | None  # rows the op must write; None when not known upfront
    run: object  # zero-argument callable returning rows written
    dedup_read: int | None = None  # sink rows the dedup read must scan (traced run)
    seconds: float = 0.0
    cpu_s: float = 0.0  # CPU time of the driver's process tree during the op
    vm_busy_s: float = 0.0  # CPU time the whole VM spent busy (context)
    steal_s: float = 0.0  # CPU time the hypervisor took from this VM (context)
    written: int = 0
    problems: list[str] = field(default_factory=list)


def parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def overlap_rows(files: list[str], col: str, lo: int, hi: int) -> int:
    """Rows in row groups whose ``col`` statistics (raw int64: µs or ids)
    overlap [lo, hi]: what a pushed-down range filter still has to read."""
    rows = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index(col)
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            if st is None or not st.has_min_max or (st.max_raw >= lo and st.min_raw <= hi):
                rows += md.row_group(g).num_rows
    return rows


# the traced run's passes: noop writes per enrich_candles prefix, and the
# sizes of the generated batches that form the registry pass's documents
# table, kept apart from the ingested corpus so the pass has a fixed size
PREFIX_REPS = 2
REGISTRY_BATCH_DOCS = (100, 100)
# generated trading days available to one run; a loop stops before it
# would need the two the traced run keeps back
MAX_DAYS = 40


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    """Shared loop plumbing; subclasses define the operations."""

    name = ""

    def __init__(self, spark, cfg: dict, seed: int, work: str, tracer: spans.Tracer):
        self.spark = spark
        self.cfg = cfg
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.warm: list[Op] = []
        self.last: Op | None = None  # the last op next_op handed out
        self.extra_attempted = 0  # checked operations outside the loop

    def fits(self, left: float) -> bool:
        """Whether another op like the last one ends inside the time box;
        the first op always runs."""
        return self.last is None or self.last.seconds <= left

    def op_cpu_s(self, main_ops: list[Op]) -> float:
        """CPU time of one timed op: the median over the run's ops."""
        return statistics.median(op.cpu_s for op in main_ops)

    def rebind(self, spark) -> None:
        self.spark = spark

    def shape(self) -> dict:
        """Fixed input dimensions the generator owns, for the report."""
        return {}

    def run_op(self, op: Op) -> Op:
        jvm = self.spark.sparkContext._gateway.proc.pid
        busy0, steal0 = procs.vm_cpu()
        cpu0 = procs.tree_cpu(jvm)
        t0 = time.perf_counter()
        with self.tracer.span(f"op.{op.kind}"):
            op.written = op.run()
        op.seconds = time.perf_counter() - t0
        op.cpu_s = procs.tree_cpu(jvm) - cpu0
        busy1, steal1 = procs.vm_cpu()
        op.vm_busy_s, op.steal_s = busy1 - busy0, steal1 - steal0
        if op.expect is not None and op.written != op.expect:
            op.problems.append(f"{op.kind} wrote {op.written}, expected {op.expect}")
        return op

    def registry_pass(self, family: str, sf_dir: str, tables: list[str]) -> tuple[dict, list[str]]:
        """Construct, plan and run the family's fixed registry queries over
        generated tables, each layer in its own span, then compare each
        result with its DuckDB oracle outside the spans. Returns the
        registry metrics (sums over the family's queries) and problems."""
        frames = {}
        for name in self.cfg["registry_queries"]:
            frames[name] = run_registry_query(self.tracer, self.spark, name, sf_dir, family, plan=True)
        self.extra_attempted += len(frames)
        results = {name: df.toPandas() for name, df in frames.items()}
        problems = list(oracle_problems(results, sf_dir, tables).values())
        qs = [s for s in self.tracer.named("registry.query") if s["family"] == family]
        return registry_figures(self.tracer, qs), problems


def run_registry_query(t: spans.Tracer, spark, name: str, sf_dir: str, family: str,
                       plan: bool):
    """Construct one registry query and run it through a noop write, each
    layer in its own span; with ``plan``, force the physical plan in a
    span of its own first. Returns the constructed frame."""
    from options_data_pipeline_spark import registry

    with t.span("registry.query", query=name, family=family):
        with t.span("registry.construct"):
            df = registry.queries()[name](spark, sf_dir)
        if plan:
            with t.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with t.span("engine.exec"):
            noop(df)
    return df


def oracle_problems(results: dict, sf_dir: str, tables: list[str]) -> dict[str, str]:
    """Compare each registry query's result (pandas) with its DuckDB
    oracle over the same files, with ``tools/check_correctness.py``'s
    comparison; returns a problem per differing query."""
    import duckdb

    from options_data_pipeline_spark import registry
    from tools.check_correctness import normalize, value_hash

    oracles = registry.oracle_sql()
    con = duckdb.connect()
    for tbl in tables:
        con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{sf_dir}/{tbl}.parquet'")
    problems = {}
    for name, result in results.items():
        got = normalize(result)
        want = normalize(con.execute(oracles[name]).fetchdf())
        if list(got.columns) != list(want.columns) or value_hash(got) != value_hash(want):
            problems[name] = f"registry {name}: differs from its oracle"
    con.close()
    return problems


def registry_figures(t: spans.Tracer, queries: list[dict]) -> dict:
    """From ``registry.query`` spans: the sums over queries of each
    query's median construct, plan and exec time and py4j calls during
    construction, and the family's median query latency."""
    kids: dict[int, dict[str, dict]] = {}
    for s in t.spans:
        if s["parent"] is not None and s["end"] is not None:
            kids.setdefault(s["parent"], {})[s["name"]] = s
    per: dict[str, dict[str, list]] = {}
    for q in queries:
        k = kids.get(q["id"], {})
        rec = per.setdefault(q["query"], {"construct": [], "plan": [], "exec": [], "py4j": []})
        for key, name in (("construct", "registry.construct"), ("plan", "catalyst.plan"),
                          ("exec", "engine.exec")):
            if name in k:
                rec[key].append(k[name]["end"] - k[name]["start"])
        rec["py4j"].append(k["registry.construct"]["py4j"])
    out = {
        "registry.construct_s": sum(_median(r["construct"]) for r in per.values()),
        "catalyst.plan_s": sum(_median(r["plan"]) for r in per.values()),
        "exec_s": sum(_median(r["exec"]) for r in per.values()),
        "py4j.calls": sum(_median(r["py4j"]) for r in per.values()),
    }
    for fam in sorted({q["family"] for q in queries}):
        lat = [q["end"] - q["start"] for q in queries if q["family"] == fam]
        out[f"registry.{fam}.latency_p50_s"] = _median(lat)
    return out


def day_bounds_us(day: dt.date) -> tuple[int, int]:
    lo = int((dt.datetime.combine(day, dt.time()) - dt.datetime(1970, 1, 1)).total_seconds())
    return lo * 1_000_000, (lo + 86_400) * 1_000_000 - 1


class TicksBatch(Workload):
    """One ``run_batch`` per generated trading day into one growing sink
    plus the ATR state snapshot; the loop ends by re-running a written
    day ``replays`` times, and each re-run must write 0 rows. Set-up runs
    the file holding day 0, a holiday carrying the Muhurat special
    session, and day 1, a plain holiday; then it ages the sink with
    ``aged_days`` earlier days."""

    name = "ticks_batch"
    WRAPS = [
        ("options_data_pipeline_spark.pipeline", "idempotent_append_batch", "streaming.sink.append"),
        ("options_data_pipeline_spark.pipeline", "overwrite_snapshot", "pipeline.state_snapshot"),
    ]

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rng = np.random.default_rng([self.seed, 7])
        self.days = gen.trading_days(MAX_DAYS)
        self.aged = gen.weekdays_before(self.days[0], self.cfg["aged_days"])
        self.cal_path = os.path.join(self.work, "calendar.json")
        gen.write_calendar(self.cal_path, holiday=self.days[1], muhurat=self.days[0])
        self.sink = os.path.join(self.work, "market_data")
        self.state = os.path.join(self.work, "atr_state")
        self.facts: dict[int, dict] = {}
        self.rebind(self.spark)

    def rebind(self, spark) -> None:
        from options_data_pipeline_spark.sources.json_source import load_calendar

        self.spark = spark
        self.cal = load_calendar(spark, self.cal_path)

    def shape(self) -> dict:
        return {
            "symbols": gen.N_SYMBOLS, "windows_per_day": gen.WINDOWS_PER_DAY,
            "window_s": gen.WINDOW_S, "muhurat_windows": gen.MUHURAT_WINDOWS,
        }

    def session(self, k: int) -> tuple[str, str]:
        return ("18:15", "19:15") if k == 0 else ("09:15", "15:30")

    def expected_rows(self, k: int) -> int:
        """Sink rows of day ``k``; any other key is a plain day."""
        return gen.N_SYMBOLS * (gen.MUHURAT_WINDOWS if k == 0 else gen.WINDOWS_PER_DAY)

    def new_day(self) -> dict:
        # day 1, the plain holiday, rides in day 0's file
        k = max(max(self.facts) + 1, 2) if self.facts else 0
        c = self.cfg
        self.facts[k] = gen.write_tick_day(
            os.path.join(self.work, "days"), self.seed, k, self.days[k],
            c["ticks_per_window"], c["silent_share"], c["hot_factor"],
            special=k == 0, holiday=self.days[1] if k == 0 else None,
        )
        return self.facts[k]

    def run_day(self, f: dict) -> int:
        from options_data_pipeline_spark.pipeline import run_batch
        from options_data_pipeline_spark.sources.tables import load_ticks

        with self.tracer.span("sources.load_ticks"):
            ticks = load_ticks(self.spark, f["dir"])
        with self.tracer.span("pipeline.run_batch"):
            return run_batch(ticks, self.sink, self.state, calendar=self.cal)

    def _op(self, kind: str, f: dict, expect: int) -> Op:
        op = Op(kind, f["k"], f["ticks"], expect, lambda: self.run_day(f))
        if self.tracer.enabled:
            op.dedup_read = overlap_rows(
                parquet_files(self.sink), "window_start", *day_bounds_us(f["date"])
            )
        return op

    def age_sink(self) -> int:
        """Append ``aged_days`` earlier plain days to the sink through the
        package's sink append, built from the Muhurat day's sink rows: its
        12 windows fill each hour block of 09:15–15:30 on every aged date
        (75 windows a day), with ids rebuilt by the package's
        ``with_row_id`` and one file group per date."""
        from pyspark.sql import functions as F

        from options_data_pipeline_spark.operators.ids import with_row_id
        from options_data_pipeline_spark.streaming.sink import idempotent_append_batch

        def us(day: dt.date, hm: tuple[int, int]) -> int:
            return day_bounds_us(day)[0] + (hm[0] * 60 + hm[1]) * 60_000_000

        src = us(self.days[0], gen.MUHURAT_HM)
        blocks = -(-gen.WINDOWS_PER_DAY // gen.MUHURAT_WINDOWS)
        shifts = self.spark.createDataFrame(
            [
                (us(d, gen.OPEN_HM) + j * 3_600_000_000 - src, us(d, (15, 30)))
                for d in self.aged for j in range(blocks)
            ],
            "shift_us long, end_us long",
        )
        w = F.unix_micros("window_start") + F.col("shift_us")
        copies = (
            self.spark.read.parquet(self.sink)
            .filter(F.col("window_start").cast("date") == F.lit(self.days[0]))
            .crossJoin(F.broadcast(shifts))
            .filter(w < F.col("end_us"))
            .withColumn("window_start", F.timestamp_micros(w))
            .drop("shift_us", "end_us")
        )
        copies = with_row_id(copies).repartition(len(self.aged), F.col("window_start").cast("date"))
        with self.tracer.span("streaming.sink.age"):
            return idempotent_append_batch(copies, self.sink)

    def warmup(self) -> None:
        f = self.new_day()  # the Muhurat file
        self.warm.append(self.run_op(self._op("warmup", f, self.expected_rows(f["k"]))))
        n = len(self.aged) * self.expected_rows(-1)
        self.warm.append(self.run_op(Op("age", -1, 0, n, self.age_sink)))

    def next_op(self, left: float) -> Op | None:
        # the last two days are kept back for the traced run's passes
        if not self.fits(left) or max(self.facts) >= len(self.days) - 3:
            return None
        f = self.new_day()
        self.last = self._op("day", f, self.expected_rows(f["k"]))
        return self.last

    def final_ops(self) -> list[Op]:
        """Re-runs of a seeded-random plain day written by ``run_batch``."""
        k = int(self.rng.choice([k for k in self.facts if k >= 2]))
        return [self._op("replay", self.facts[k], 0) for _ in range(self.cfg["replays"])]

    def solo_op(self) -> Op:
        f = self.new_day()
        return self._op("solo", f, self.expected_rows(f["k"]))

    def check(self, ops: list[Op]) -> None:
        """Every written day, aged copies included: row count and unique
        keys in the sink. The Muhurat day and the last day ``run_batch``
        wrote: every row against DuckDB; the plain holiday: no rows.
        Problems are charged to the op that wrote the day; replays are
        checked by their 0-row count."""
        written = [op for op in self.warm + ops if op.kind in ("warmup", "day")]
        age_op = next(op for op in self.warm if op.kind == "age")
        full = {0, written[-1].key}
        bounds = {op.key: day_bounds_us(self.facts[op.key]["date"]) for op in written}
        bounds["holiday"] = day_bounds_us(self.days[1])
        bounds.update({d: day_bounds_us(d) for d in self.aged})
        days = oracle.read_sink_days(self.sink, bounds, full)
        if days["holiday"]["n"]:
            self.warm[0].problems.append(f"holiday: {days['holiday']['n']} sink rows")
        checks = [(op, op.key, self.expected_rows(op.key)) for op in written]
        checks += [(age_op, d, self.expected_rows(age_op.key)) for d in self.aged]
        for op, key, expect in checks:
            day = days[key]
            if day["n"] != day["distinct"]:
                op.problems.append(f"day {key}: {day['n'] - day['distinct']} duplicate sink keys")
            if key in full:
                f = self.facts[key]
                op.problems += [
                    f"day {key}: {p}"
                    for p in oracle.check_tick_day(f["path"], day["rows"], self.session(key))
                ]
            elif day["distinct"] != expect:
                op.problems.append(f"day {key}: {day['distinct']} sink rows, expected {expect}")

    def layers(self, ops: list[Op], jobs) -> tuple[dict, list[str]]:
        """Operator self times by forcing each cumulative prefix of
        ``enrich_candles`` (noop write) on an unwritten day and taking
        differences; registry queries over that day; sink and source
        counts."""
        from options_data_pipeline_spark.operators.atr import with_wilder_atr
        from options_data_pipeline_spark.operators.gapfill import gap_fill
        from options_data_pipeline_spark.operators.ids import with_row_id
        from options_data_pipeline_spark.operators.joins import session_hours_gate
        from options_data_pipeline_spark.operators.ohlc import ohlc_candles
        from options_data_pipeline_spark.operators.truerange import with_true_range
        from options_data_pipeline_spark.sources.tables import load_ticks

        t, reps = self.tracer, PREFIX_REPS
        f = self.new_day()
        ticks = load_ticks(self.spark, f["dir"])
        gated = session_hours_gate(ticks, self.cal)
        candles = ohlc_candles(gated, "5 minutes")
        # cache=False: each prefix recomputes its whole upstream, so the
        # differences are the operators' own cost
        filled = gap_fill(candles, 300, cache=False)
        tr = with_true_range(filled).drop("prev_close")
        atr = with_wilder_atr(tr)
        prefixes = [
            ("scan", ticks), ("calendar_gate", gated), ("ohlc", candles),
            ("gap_fill", filled), ("true_range", tr), ("atr", atr), ("ids", with_row_id(atr)),
        ]
        med = {}
        for name, df in prefixes:
            for _ in range(reps):
                with t.span(f"prefix.{name}"):
                    noop(df)
            med[name] = _median(t.durations(f"prefix.{name}"))
        out = {
            f"operators.{name}.self_s": med[name] - med[prev]
            for (prev, _), (name, _) in zip(prefixes, prefixes[1:])
        }
        out["operators.gap_fill.synth_rows"] = filled.filter("gap_filled").count()
        js = jobs()
        scan = spans.engine_totals(js, 0, float("inf"), {s["id"] for s in t.named("prefix.scan")})
        atr_jobs = spans.engine_totals(js, 0, float("inf"), {s["id"] for s in t.named("prefix.atr")})
        out["sources.scan_rows"] = scan["input_records"] / reps
        # Spark's input-bytes task metric stays near zero for local parquet
        # scans, so the bytes are the scanned file's size
        out["sources.scan_bytes"] = os.path.getsize(f["path"])
        out["operators.atr.python_bytes"] = atr_jobs["python_bytes"] / reps
        out["sources.load_ticks_s"] = _median(t.durations("sources.load_ticks"))
        out["pipeline.run_batch_s"] = _median(t.durations("pipeline.run_batch"))
        out["pipeline.state_snapshot_s"] = _median(t.durations("pipeline.state_snapshot"))
        reg, problems = self.registry_pass("indicators", f["dir"], ["events"])
        out.update(reg)
        return out, problems

    def sink_counts(self, ops: list[Op]) -> dict:
        offered = sum(self.expected_rows(op.key) for op in ops)
        return {
            "streaming.sink.write_ratio": sum(op.written for op in ops) / offered,
            "streaming.sink.files": len(parquet_files(self.sink)),
        }


class DocsIngest(Workload):
    """``dedup_ingest_batch`` over generated document batches against a
    growing corpus and signature index; the loop ends by replaying the
    last batch ``replays`` times, and each replay must append 0. Set-up ingests ``warmup_batch_docs``
    batches, the first large enough to age the corpus and index."""

    name = "docs_ingest"
    WRAPS = [
        ("options_data_pipeline_spark.streaming.doc_ingest", "idempotent_append_batch", "streaming.sink.append"),
        ("options_data_pipeline_spark.streaming.doc_ingest", "connected_components_star", "functions.dedupe.cc"),
    ]

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        c = self.cfg
        self.stream = gen.doc_batches(
            self.seed, c["batch_docs"], c["exact_share"], c["edit_share"], c["intra_share"],
            tuple(c["words_per_doc"]), tuple(c["warmup_batch_docs"]),
        )
        self.batches: list[dict] = []
        self.corpus = os.path.join(self.work, "corpus")
        self.sigs = os.path.join(self.work, "signatures")

    def new_batch(self) -> int:
        b = next(self.stream)
        b["path"] = os.path.join(self.work, "batches", f"b{len(self.batches):04d}.parquet")
        os.makedirs(os.path.dirname(b["path"]), exist_ok=True)
        gen.write_doc_batch(b["path"], b)
        self.batches.append(b)
        return len(self.batches) - 1

    def ingest(self, k: int) -> int:
        from options_data_pipeline_spark.streaming.doc_ingest import dedup_ingest_batch

        with self.tracer.span("streaming.doc_ingest"):
            batch = self.spark.read.parquet(self.batches[k]["path"])
            return dedup_ingest_batch(batch, self.corpus, self.sigs, self.cfg["threshold"])

    def _op(self, kind: str, k: int, expect: int | None) -> Op:
        op = Op(kind, k, len(self.batches[k]["doc_id"]), expect, lambda: self.ingest(k))
        if self.tracer.enabled:
            ids = self.batches[k]["doc_id"]
            op.dedup_read = overlap_rows(
                parquet_files(self.corpus), "doc_id", int(ids.min()), int(ids.max())
            )
        return op

    def warmup(self) -> None:
        for _ in self.cfg["warmup_batch_docs"]:
            self.warm.append(self.run_op(self._op("warmup", self.new_batch(), None)))

    def next_op(self, left: float) -> Op | None:
        if not self.fits(left):
            return None
        self.last = self._op("batch", self.new_batch(), None)
        return self.last

    def final_ops(self) -> list[Op]:
        """The closing replays of the last ingested batch."""
        return [self._op("replay", len(self.batches) - 1, 0) for _ in range(self.cfg["replays"])]

    def solo_op(self) -> Op:
        return self._op("solo", self.new_batch(), None)

    def check(self, ops: list[Op]) -> dict:
        problems, ratios = oracle.check_corpus(self.corpus, self.sigs, self.batches)
        # corpus-wide problems are charged to the last op
        (ops or self.warm)[-1].problems += problems
        return ratios

    def layers(self, ops: list[Op], jobs) -> tuple[dict, list[str]]:
        """Connected-components spans, index size, and the text/dedup
        registry queries over a small generated documents table."""
        t, js = self.tracer, jobs()
        out = {
            "functions.dedupe.cc_s": _median(t.durations("functions.dedupe.cc")),
            "functions.dedupe.cc_jobs": _median([
                spans.engine_totals(js, 0, float("inf"), {s["id"]})["jobs"]
                for s in t.named("functions.dedupe.cc")
            ]),
            "streaming.doc_ingest.batch_s": _median(t.durations("streaming.doc_ingest")),
            "ingest.index_rows": sum(
                pq.ParquetFile(f).metadata.num_rows for f in parquet_files(self.sigs)
            ),
            "ingest.index_files": len(parquet_files(self.sigs)),
        }
        docs_dir = os.path.join(self.work, "docs_sf")
        os.makedirs(docs_dir)
        c = self.cfg
        stream = gen.doc_batches(
            self.seed, c["batch_docs"], c["exact_share"], c["edit_share"], c["intra_share"],
            tuple(c["words_per_doc"]), REGISTRY_BATCH_DOCS,
        )
        path = os.path.join(docs_dir, "documents.parquet")
        pq.write_table(pa.concat_tables([gen.doc_table(next(stream)) for _ in REGISTRY_BATCH_DOCS]), path)
        reg, problems = self.registry_pass("dedup", docs_dir, ["documents"])
        out.update(reg)
        return out, problems

    def sink_counts(self, ops: list[Op]) -> dict:
        offered = sum(op.items for op in ops)
        return {
            "streaming.sink.write_ratio": sum(op.written for op in ops) / offered,
            "streaming.sink.files": len(parquet_files(self.corpus)),
        }


class QueryMix(Workload):
    """Registry queries over generated ``events`` (one tick day),
    ``documents`` and ``embeddings`` tables, each constructed and run
    through a noop write. Set-up runs every query once, which also builds
    the ``*_indexed`` queries' write-once indexes. The loop then runs
    passes over the mix, each pass a seeded permutation, until the time
    box ends at a pass boundary, so every query runs the same number of
    times. The set-up run collects each result; after the loop, the
    check compares those with the DuckDB oracles, and re-runs the
    ``*_indexed`` queries so that their index read path is checked too."""

    name = "query_mix"
    TABLES = ["events", "documents", "embeddings"]
    WRAPS = [
        ("options_data_pipeline_spark.functions.dedupe", "connected_components_star", "functions.dedupe.cc"),
    ]

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        c = self.cfg
        self.family = {q: fam for fam, qs in c["queries"].items() for q in qs}
        self.names = list(self.family)
        self.rng = np.random.default_rng([self.seed, 13])
        self.todo: list[int] = []  # the current pass, in reverse
        self.passes = 0
        self.results: dict = {}  # query -> pandas result of the set-up run
        self.sf = os.path.join(self.work, "sf")
        os.makedirs(self.sf)
        t = c["events"]
        day = gen.write_tick_day(
            os.path.join(self.work, "days"), self.seed, 2, gen.trading_days(3)[2],
            t["ticks_per_window"], t["silent_share"], t["hot_factor"],
        )
        os.replace(day["path"], os.path.join(self.sf, "events.parquet"))
        d = c["documents"]
        stream = gen.doc_batches(
            self.seed, d["batch_docs"], d["exact_share"], d["edit_share"], d["intra_share"],
            tuple(d["words_per_doc"]),
        )
        docs = pa.concat_tables([gen.doc_table(next(stream)) for _ in range(d["batches"])])
        pq.write_table(docs, os.path.join(self.sf, "documents.parquet"))
        e = c["embeddings"]
        pq.write_table(
            gen.embeddings_table(self.seed, e["rows"], e["dim"], e["clusters"]),
            os.path.join(self.sf, "embeddings.parquet"),
        )
        self.rows = {"events": day["ticks"], "documents": docs.num_rows, "embeddings": e["rows"]}

    def shape(self) -> dict:
        return {"table_rows": self.rows, "queries": len(self.names)}

    def _op(self, kind: str, i: int) -> Op:
        name = self.names[i]
        return Op(kind, i, 1, None, lambda: self.run_query(name))

    def run_query(self, name: str) -> int:
        run_registry_query(
            self.tracer, self.spark, name, self.sf, self.family[name], plan=self.tracer.enabled
        )
        return 0

    def collect(self, name: str) -> int:
        from options_data_pipeline_spark import registry

        with self.tracer.span("registry.collect", query=name):
            self.results[name] = registry.queries()[name](self.spark, self.sf).toPandas()
        return 0

    def warmup(self) -> None:
        for i, name in enumerate(self.names):
            self.warm.append(self.run_op(Op("warmup", i, 1, None, lambda n=name: self.collect(n))))

    def next_op(self, left: float) -> Op | None:
        if not self.todo:
            if self.passes and left <= 0:
                return None
            self.todo = [int(i) for i in self.rng.permutation(len(self.names))]
            self.passes += 1
        return self._op("query", self.todo.pop())

    def final_ops(self) -> list[Op]:
        return []

    def op_cpu_s(self, main_ops: list[Op]) -> float:
        """CPU time of one pass over the mix: the sum over queries of each
        query's median."""
        per: dict[int, list[float]] = {}
        for op in main_ops:
            per.setdefault(op.key, []).append(op.cpu_s)
        return sum(statistics.median(v) for v in per.values())

    def solo_op(self) -> Op:
        return self._op("solo", self.names.index(self.cfg["solo_query"]))

    def check(self, ops: list[Op]) -> None:
        """Every query's set-up result against its oracle, and every
        ``*_indexed`` query again, now served from its built index; a
        mismatch fails the query's set-up op or its last op."""
        setup = dict(self.results)
        served = [name for name in self.names if name.endswith("_indexed")]
        for name in served:
            self.collect(name)
        checks = [
            (setup, {op.key: op for op in self.warm}),
            ({n: self.results[n] for n in served}, {op.key: op for op in ops}),
        ]
        for results, charge in checks:
            for name, p in oracle_problems(results, self.sf, self.TABLES).items():
                charge[self.names.index(name)].problems.append(p)

    def layers(self, ops: list[Op], jobs) -> tuple[dict, list[str]]:
        """Registry layers of the timed queries, and the
        connected-components spans of the iterative queries."""
        t, js = self.tracer, jobs()
        timed = [s for s in t.named("registry.query") if s["op"] is not None and s["op"] >= 0]
        out = registry_figures(t, timed)
        cc = [s for s in t.named("functions.dedupe.cc") if s["op"] is not None and s["op"] >= 0]
        out["functions.dedupe.cc_s"] = _median([s["end"] - s["start"] for s in cc])
        out["functions.dedupe.cc_jobs"] = _median([
            spans.engine_totals(js, 0, float("inf"), {s["id"]})["jobs"] for s in cc
        ])
        return out, []

    def sink_counts(self, ops: list[Op]) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (TicksBatch, DocsIngest, QueryMix)}
