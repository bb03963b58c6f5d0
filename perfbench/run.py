"""Benchmark of ballet_spark on local[4]: point-in-time backfill with
as-of lookups, and the curation leaves of ``__spark_entry__``.

Run from the repository root:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

Each workload is a closed loop with one client. A run starts one Spark
session, sets its inputs up ``SETUP_REPS`` times from the seed (the
median is ``setup_s``), makes one untimed warm-up round that also checks
the outputs against an independent oracle, then measures a fixed number
of rounds (``--seconds`` / ``ROUND_S``). Per round it records the wall
time and the CPU time of the timed calls and the peak RSS:

- ``backfill``: a round is ``plans.materialize.materialize`` of 12
  point-in-time features into a fresh path, its idempotent re-run, and
  one as-of lookup pair on a seeded label batch (``asof_join`` over
  ``read_matrix`` and ``asof_join_history`` over a persisted
  ``entity_history`` table, both built once from the warm-up draw);
- ``curation``: a round is one pass, in a seeded order, over the
  ``LEAVES`` of ``__spark_entry__`` on seeded single-file tables, with
  ``release_caches(None)`` and ``clearCache()`` after every leaf.

Every output is checked; a failed check counts in ``failed``. The last
line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``
(``setup_s``, ``round_cpu_s``, ``peak_rss_mb``);
with ``--trace 1`` the run then restarts the Spark context with an
event log and wrappers around the public calls (``spans.py``), repeats
the rounds traced and reports the per-layer metrics. Progress goes to
stderr. Everything the run writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

from spans import Tracer, engine_totals, install, read_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

PAGES = 4000  # backfill input; see BASELINE.md for the size sweep
BATCH = 10000  # labels in the seeded batch every lookup serves
# curation leaves: Arrow/pandas text kernels (quality, char-bigram LM),
# MinHash dedup with persisted scopes and connected components, and
# embedding similarity
LEAVES = [
    "quality_scores", "lm_perplexity_docs", "dedup_components", "embedding_topk",
]
# seconds one measured round takes on 4 cores; --seconds / ROUND_S rounds
ROUND_S = {"backfill": 5.0, "curation": 5.0}
# set-ups per run; writing the curation tables takes ~50 ms, so more
SETUP_REPS = {"backfill": 3, "curation": 5}
SNAPSHOT = "s1"
N_UNITS = 8
# the session settings a reader needs to compare two records
CONF_KEYS = [
    "spark.master", "spark.driver.memory", "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled", "spark.sql.shuffle.partitions",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.sql.autoBroadcastJoinThreshold", "spark.local.dir",
]
FEATURES = [
    "n_chars", "n_tokens", "punct_r", "quality", "len_lag1", "len_delta",
    "len_roll5", "len_cum", "lang_ffill", "snap_idx", "gap_s", "session_id",
]


_T0 = time.perf_counter()


def log(*a):
    print(f"[{time.perf_counter() - _T0:6.1f}s]", *a, file=sys.stderr, flush=True)


def isolate(run_dir: str) -> None:
    """Keep every temporary file of the driver, the JVM and the Python
    workers inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        # every JVM the launch starts: temp files here, and no
        # hsperfdata file, which the JVM would otherwise put under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
    )
    tempfile.tempdir = tmp


def feature_list():
    """The 12 point-in-time features of bench.py's backfill."""
    from ballet_spark.core import Feature
    from ballet_spark.functions.text import (
        char_count, punct_ratio, quality_score, token_count,
    )
    from ballet_spark.operators.base import SparkFunctionTransformer as Fn
    from ballet_spark.operators.sessionize import SessionId
    from ballet_spark.operators.window_ops import (
        CumAgg, Delta, ForwardFill, Lag, Rolling, SnapshotIndex, TimeSinceLast,
    )

    feats = [
        Feature("text", Fn(char_count), output="n_chars"),
        Feature("text", Fn(token_count), output="n_tokens"),
        Feature("text", Fn(punct_ratio), output="punct_r"),
        Feature("text", Fn(quality_score), output="quality"),
        Feature("text_len", Lag(1), output="len_lag1"),
        Feature("text_len", Delta(1), output="len_delta"),
        Feature("text_len", Rolling("mean", 5), output="len_roll5"),
        Feature("text_len", CumAgg("sum"), output="len_cum"),
        Feature("lang", ForwardFill(), output="lang_ffill"),
        Feature("url", SnapshotIndex(), output="snap_idx"),
        Feature("url", TimeSinceLast(), output="gap_s"),
        Feature("url", SessionId(gap_s=24 * 3600), output="session_id"),
    ]
    assert [f.output for f in feats] == FEATURES
    return feats


def digest(df) -> tuple[tuple[int, int], float]:
    """((row count, order-insensitive xxhash64 sum over every column),
    planning ms of the digest query). Floating columns are hashed at 12
    significant digits, so a summation order that differs between runs
    cannot change the digest."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    from ballet_spark.plans.materialize import fold_digest

    cols = [
        F.format_string("%.12g", F.col(f.name)) if isinstance(f.dataType, (DoubleType, FloatType))
        else F.col(f.name)
        for f in sorted(df.schema.fields, key=lambda f: f.name)
    ]
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("d"),
    )
    row = agg.first()
    return (int(row["n"]), fold_digest(row["d"])), planning_ms(agg)


def planning_ms(df) -> float:
    """Analysis + optimization + planning time of an executed query."""
    phases = df._jdf.queryExecution().tracker().phases()
    it, total = phases.iterator(), 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


class Bench:
    """A run: one Spark session (two with tracing), set-up, warm-up and
    the measured rounds of one workload."""

    name = ""

    def __init__(self, args, tracer, run_dir):
        self.args, self.tracer, self.run_dir = args, tracer, run_dir
        self.attempted = self.failed = 0
        self.correct = True
        self.spark = None
        # per measured round: (traced, seconds of its timed operations)
        self.rounds: list[tuple[bool, float]] = []
        self.next_round = 0
        self.rss: list[float] = []  # peak RSS MB of each untraced round
        self.layer = {"planning_ms": [], "live_handles": []}
        self.plan_ms = 0.0
        # CPU seconds of the timed calls: of the current round, per round
        self.round_cpu = 0.0
        self.cpu: list[float] = []

    # -- session and set-up ----------------------------------------------

    def start(self, event_log: bool) -> float:
        """Start (or restart) the Spark session; returns seconds taken."""
        from ballet_spark import session

        extra = {
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.environ["SPARK_GRAFT_WAREHOUSE"],
        }
        if event_log:
            ev = os.path.join(self.run_dir, "eventlog")
            os.makedirs(ev, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": ev,
            })
        if self.spark is not None:
            self.spark.stop()
            self.tracer.sc = None  # no job groups until the new context exists
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = session.get_spark(
                app_name="perfbench", master="local[4]", extra_conf=extra
            )
        took = time.perf_counter() - t0
        self.tracer.sc = self.spark.sparkContext
        self.pids = [os.getpid(),
                     self.spark._jvm.java.lang.ProcessHandle.current().pid()]
        conf = self.spark.sparkContext.getConf()
        log(f"session {took:.2f}s event_log={event_log} conf",
            json.dumps({k: conf.get(k, None) for k in CONF_KEYS}))
        return took

    def setup(self):
        """Set up SETUP_REPS times from the seed and keep the median."""
        runs = [self.setup_once() for _ in range(SETUP_REPS[self.name])]
        self.setup_s = statistics.median(runs)
        log(f"setup {[round(r, 2) for r in runs]}")

    # -- helpers -------------------------------------------------------------

    def check(self, ok: bool, what: str):
        if not ok:
            self.failed += 1
            self.correct = False
            log(f"CHECK FAILED: {what}")

    def timed(self, name, fn):
        """Run one attempted operation; returns (seconds, result) or
        (None, None) when it raised."""
        self.attempted += 1
        c0 = self.cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                out = fn()
        except Exception as exc:  # noqa: BLE001 — counted, run continues
            self.failed += 1
            self.correct = False
            log(f"FAILED {name}: {exc!r}")
            return None, None
        took = time.perf_counter() - t0
        self.round_cpu += self.cpu_s() - c0
        return took, out

    def rss_reset(self) -> None:
        """Restart the peak-RSS count (VmHWM) of the driver and the JVM."""
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")

    def rss_mb(self) -> float:
        """Peak RSS of the driver plus the JVM since the last reset."""
        kb = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        return kb / 1024.0

    def cpu_s(self) -> float:
        """CPU seconds (user + system) used so far by the driver and every
        process under it: the JVM, the Python worker daemon and its
        workers, reaped children included."""
        me, parent, ticks = os.getpid(), {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while listed
                continue
            parent[int(d)] = int(fields[1])
            ticks[int(d)] = sum(int(x) for x in fields[11:15])

        def ours(pid):
            while pid > 1:
                if pid == me:
                    return True
                pid = parent.get(pid, 0)
            return False

        return sum(t for pid, t in ticks.items() if ours(pid)) / os.sysconf("SC_CLK_TCK")

    def live_handles(self) -> int:
        from ballet_spark import cache

        return sum(len(v) for v in cache._PERSISTED.values())

    def rewarm(self):
        """After a restart the JVM is warm but the Python workers are
        new: start them, with pandas and Arrow loaded, untimed."""
        self.spark.range(8, numPartitions=4).mapInPandas(lambda it: it, "id long").count()

    def measure(self, n_rounds: int) -> None:
        for _ in range(n_rounds):
            k, self.next_round = self.next_round, self.next_round + 1
            # untimed: a full GC first, so that each round's peak RSS
            # counts what the round itself holds, not garbage left over
            # from earlier rounds
            self.spark._jvm.System.gc()
            self.rss_reset()
            self.plan_ms = self.round_cpu = 0.0
            secs = self.round(k)
            if secs is None:
                continue
            self.rounds.append((self.tracer.on, secs))
            if self.tracer.on:
                self.layer["planning_ms"].append(self.plan_ms)
            else:
                self.rss.append(self.rss_mb())
                self.cpu.append(self.round_cpu)
                log(f"round {k}: {secs:.2f}s wall, {self.round_cpu:.2f}s cpu, "
                    f"peak rss {self.rss[-1]:.0f} MB")

    def plain_rounds(self) -> list[float]:
        return [s for on, s in self.rounds if not on]

    def end_to_end(self) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            # CPU, not wall time: see "Why CPU seconds" in BASELINE.md
            "round_cpu_s": (statistics.mean(self.cpu), "s"),
            "peak_rss_mb": (max(self.rss), "MB"),
        }


class Backfill(Bench):
    name = "backfill"

    def __init__(self, args, tracer, run_dir):
        super().__init__(args, tracer, run_dir)
        self.pages = args.pages or PAGES
        self.batch = min(BATCH, 200) if args.pages else BATCH
        self.draw_s, self.resume_s = [], []
        self.req = {"window": [], "history": []}
        self.ref_units = None
        self.ref_lookup = None
        self.layer.update(bytes_written=[], files_written=[], units_computed=[])

    def setup_once(self) -> float:
        """Generate the seeded pages with the distributed generator and
        write them as the parquet input (the generator is lazy: it runs
        inside the write)."""
        from ballet_spark.sources import webtext

        self.pages_path = os.path.join(self.run_dir, "pages")
        t0 = time.perf_counter()
        webtext.generate_webtext_spark(
            self.spark, n_pages=self.pages, seed=self.args.seed
        ).write.mode("overwrite").parquet(self.pages_path)
        return time.perf_counter() - t0

    def setup(self):
        import pandas as pd

        super().setup()
        keys = self.spark.read.parquet(self.pages_path).select("url", "warc_ts").toPandas()
        self.n_rows = len(keys)
        self.keys = keys.assign(
            warc_ts=pd.to_datetime(keys["warc_ts"], utc=True).dt.tz_localize(None)
        ).sort_values(["url", "warc_ts"], kind="mergesort").reset_index(drop=True)

    def label_batch(self, keys):
        """The seeded (url, ts) label batch: real urls (5% unknown ones) at
        times offset up to 3 days either side of a real snapshot, so some
        labels precede the url's first snapshot. It is the client's input
        and stays untimed. Returns (persisted DataFrame, row count)."""
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(self.args.seed)
        n = self.batch
        idx = rng.integers(0, len(keys), n)
        urls = keys["url"].to_numpy()[idx].astype(object)
        miss = rng.random(n) < 0.05
        urls[miss] = [f"https://absent.example/{k}" for k in range(int(miss.sum()))]
        ts = keys["warc_ts"].to_numpy()[idx] + rng.integers(
            -3 * 86400, 3 * 86400, n
        ).astype("timedelta64[s]")
        pdf = pd.DataFrame({"url": urls, "ts": ts})
        df = self.spark.createDataFrame(pdf, "url string, ts timestamp").persist()
        return df, df.count()

    def backfill(self, k: int):
        """One draw: materialize into a fresh path, then its no-op
        re-run. Returns (draw s, resume s or None, out path), or None when
        the draw failed."""
        from pyspark.sql import functions as F

        from ballet_spark.plans import materialize as mat

        spark, tr = self.spark, self.tracer
        out = os.path.join(self.run_dir, f"matrix-{k}")
        lin = os.path.join(self.run_dir, f"lineage-{k}")
        source = spark.read.parquet(self.pages_path).withColumn(
            "text_len", F.length("text").cast("double")
        )
        feats = feature_list()

        def run_mat():
            return mat.materialize(
                spark, source, feats, out_path=out, lineage_path=lin,
                input_snapshot=SNAPSHOT, n_units=N_UNITS,
            )

        tr.request = f"{k}.draw"
        d_s, summary = self.timed("op.draw", run_mat)
        if d_s is None:
            return None
        self.check(summary["units_computed"] == N_UNITS, "draw computed every unit")
        tr.request = f"{k}.resume"
        r_s, again = self.timed("op.resume", run_mat)
        if r_s is not None:
            self.check(again["units_computed"] == 0, "resume computed no unit")
        if tr.on:
            files = [os.path.join(dp, f) for dp, _, fs in os.walk(out) for f in fs
                     if f.endswith(".parquet")]
            self.layer["bytes_written"].append(sum(os.path.getsize(f) for f in files))
            self.layer["files_written"].append(len(files))
            self.layer["units_computed"].append(summary["units_computed"])
        with tr.span("check.lineage"):
            lrows = mat.lineage_metrics(spark, lin).collect()
        self.check(sum(r["row_count"] for r in lrows) == self.n_rows,
                   "lineage row counts sum to the generated rows")
        units = sorted((r["unit"], r["digest"]) for r in lrows)
        self.check(len(units) == N_UNITS, "one lineage row per unit")
        if self.ref_units is None:
            self.ref_units = units
        self.check(units == self.ref_units, "unit digests equal across draws and resumes")
        return d_s, r_s, out

    def build_serving(self, out: str):
        """Serve the warm-up draw's matrix: read it back and persist its
        per-entity history table once."""
        from ballet_spark.operators import asof
        from ballet_spark.plans import materialize as mat

        self.matrix = mat.read_matrix(self.spark, out, snapshot=SNAPSHOT).select(
            "url", "warc_ts", *FEATURES
        )
        self.tracer.request = "history"
        with self.tracer.span("op.history_build"):
            self.hist = asof.entity_history(
                self.matrix, "url", "warc_ts", FEATURES
            ).persist()
            self.hist.count()

    def serve(self, k: int) -> dict:
        """Look the label batch up by both kinds; returns the seconds
        of each kind that succeeded."""
        from ballet_spark.operators import asof

        tr = self.tracer
        batch, n_labels = self.labels
        lat, got = {}, {}
        for kind in ("window", "history"):
            tr.request = f"{k}.{kind}"

            def call(kind=kind):
                with tr.span("bench.plan"):
                    if kind == "window":
                        j = asof.asof_join(batch, self.matrix, on="url", left_ts="ts",
                                           right_ts="warc_ts", value_cols=FEATURES)
                    else:
                        j = asof.asof_join_history(batch, self.hist, on="url",
                                                   left_ts="ts", value_cols=FEATURES)
                with tr.span("bench.exec"):
                    return digest(j)

            s, res = self.timed(f"op.{kind}", call)
            if s is None:
                continue
            (dig, plan) = res
            lat[kind], got[kind] = s, dig
            self.plan_ms += plan
            self.check(dig[0] == n_labels, f"{kind} lookup returns one row per label")
        if len(got) == 2:
            self.check(got["window"] == got["history"],
                       "window and history lookups agree on the batch")
            if self.ref_lookup is None:
                self.ref_lookup = got["window"]
            self.check(got["window"] == self.ref_lookup, "lookup digest equal across rounds")
        return lat

    def warm_up(self):
        """Untimed: one draw and resume, whose matrix is then served to
        every round; one lookup pair and the oracle check."""
        drawn = self.backfill(-1)
        if drawn is None:
            raise RuntimeError("warm-up draw failed")
        self.served = drawn[2]
        shutil.rmtree(self.served.replace("matrix-", "lineage-"), ignore_errors=True)
        self.labels = self.label_batch(self.keys)
        self.build_serving(self.served)
        self.serve(-1)
        self.check_oracle(self.matrix, self.labels[0])

    def rewarm(self):
        """After a restart: the label batch and the history table again
        in the new session (the history build traced), one lookup pair."""
        super().rewarm()
        self.labels = self.label_batch(self.keys)
        self.tracer.on = True
        self.build_serving(self.served)
        self.tracer.on = False
        self.serve(-1)

    def round(self, k: int):
        drawn = self.backfill(k)
        lat = self.serve(k)
        if self.tracer.on:
            self.layer["live_handles"].append(self.live_handles())
        if drawn is None:
            return None
        d_s, r_s, out = drawn
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(out.replace("matrix-", "lineage-"), ignore_errors=True)
        log(f"round {k}: draw {d_s:.2f}s resume {r_s or 0:.2f}s lookups "
            + " ".join(f"{kind} {s:.2f}s" for kind, s in lat.items()))
        if not self.tracer.on:
            self.draw_s.append(d_s)
            if r_s is not None:
                self.resume_s.append(r_s)
            for kind, s in lat.items():
                self.req[kind].append(s)
        return d_s + (r_s or 0.0) + sum(lat.values())

    def check_oracle(self, matrix, batch):
        """Compare the window lookup on one batch with pandas merge_asof."""
        import pandas as pd

        from ballet_spark.operators import asof

        right = matrix.select("url", "warc_ts", "n_chars").toPandas()
        left = batch.toPandas()
        exp = pd.merge_asof(
            left.sort_values("ts"), right.sort_values("warc_ts"),
            left_on="ts", right_on="warc_ts", by="url", direction="backward",
        )
        got = asof.asof_join(batch, matrix.select("url", "warc_ts", "n_chars"),
                             on="url", left_ts="ts", right_ts="warc_ts").toPandas()

        def canon(df, ts):
            return sorted(
                (u, str(t), "" if pd.isna(m) else str(m), "" if pd.isna(c) else int(c))
                for u, t, m, c in zip(df["url"], df["ts"], df[ts], df["n_chars"])
            )

        self.check(canon(got, "__matched_ts") == canon(exp, "warc_ts"),
                   "window lookup matches pandas merge_asof")

    def workload_metrics(self) -> dict:
        pooled = self.req["window"] + self.req["history"]
        return {
            "backfill_docs_per_s": statistics.median(self.n_rows / s for s in self.draw_s),
            "resume_s": statistics.median(self.resume_s),
            "lookup_window_s_p50": statistics.median(self.req["window"]),
            "lookup_history_s_p50": statistics.median(self.req["history"]),
            "lookup_s_p90": statistics.quantiles(pooled, n=10, method="inclusive")[8],
        }


class Curation(Bench):
    name = "curation"

    def __init__(self, args, tracer, run_dir):
        super().__init__(args, tracer, run_dir)
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.leaf_s = {leaf: [] for leaf in LEAVES}
        self.ref = {}
        self.order = random.Random(args.seed)

    def setup_once(self) -> float:
        """Write the seeded documents and embeddings tables."""
        import tables

        self.tables_dir = os.path.join(self.run_dir, "tables")
        t0 = time.perf_counter()
        rows = tables.write(self.tables_dir, self.args.seed)
        self.n_rows = sum(rows.values())
        return time.perf_counter() - t0

    def release(self) -> None:
        from ballet_spark import cache

        if self.tracer.on:
            self.layer["live_handles"].append(self.live_handles())
        cache.release_caches(None)
        self.spark.catalog.clearCache()

    def warm_up(self):
        """Untimed: every leaf once. Each output is compared with its
        DuckDB oracle (``scripts/gate_replica.canon``) and its digest
        becomes the reference of every later call."""
        for leaf in LEAVES:
            df = self.queries[leaf](self.spark, self.tables_dir).persist()
            self.check_oracle(leaf, df.toPandas())
            self.ref[leaf] = digest(df)[0]
            df.unpersist()
            self.release()

    def check_oracle(self, leaf, got):
        import duckdb

        from scripts.gate_replica import canon

        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.tables_dir}/{t}.parquet')")
        exp = con.sql(self.oracles[leaf]).df()
        con.close()
        same = (sorted(got.columns) == sorted(exp.columns) and len(got) == len(exp)
                and canon(got).equals(canon(exp)))
        self.check(same, f"{leaf} matches its DuckDB oracle")
        log(f"oracle {leaf}: {len(got)} rows {'ok' if same else 'DIFFERS'}")

    def round(self, k: int):
        leaves = list(LEAVES)
        self.order.shuffle(leaves)
        total, times = 0.0, {}
        for leaf in leaves:
            self.tracer.request = f"{k}.{leaf}"

            def call(leaf=leaf):
                return digest(self.queries[leaf](self.spark, self.tables_dir))

            s, res = self.timed("op.leaf", call)
            self.release()
            if s is None:
                continue
            dig, plan = res
            self.plan_ms += plan
            self.check(dig == self.ref[leaf], f"{leaf} digest equals the oracle-checked one")
            times[leaf] = s
            total += s
        log(f"pass {k}: {total:.2f}s " + " ".join(f"{n} {s:.2f}" for n, s in times.items()))
        if not self.tracer.on:
            for leaf, s in times.items():
                self.leaf_s[leaf].append(s)
        return total

    def workload_metrics(self) -> dict:
        med = {leaf: statistics.median(v) for leaf, v in self.leaf_s.items() if v}
        out = {"suite_s": sum(med.values())}
        out.update({f"entry.{leaf}_s": s for leaf, s in med.items()})
        return out


WORKLOADS = {"backfill": Backfill, "curation": Curation}
# metrics of one workload that read 0 in a run of the other
WORKLOAD_METRICS = [
    ("backfill_docs_per_s", "docs/s"), ("resume_s", "s"),
    ("lookup_window_s_p50", "s"), ("lookup_history_s_p50", "s"), ("lookup_s_p90", "s"),
    ("suite_s", "s"),
] + [(f"entry.{leaf}_s", "s") for leaf in LEAVES]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=0,
                    help="override the backfill page count (self-test sizes)")
    args = ap.parse_args(argv)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import ballet_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the program under test: {exc}")
        return 2

    tracer = Tracer()
    bench = WORKLOADS[args.workload](args, tracer, run_dir)
    n_rounds = max(1, round(args.seconds / ROUND_S[args.workload]))
    try:
        bench.session_s = bench.start(event_log=False)
        bench.setup()
        bench.warm_up()
        log("warm-up done")
        bench.measure(n_rounds)
        if args.trace:
            # the same rounds again in a fresh context that writes an
            # event log, with one job group per span
            install(tracer)
            tracer.on = True
            tracer.request = "session"
            bench.start(event_log=True)
            tracer.on = False
            bench.rewarm()
            tracer.on = True
            bench.measure(n_rounds)
            tracer.on = False
        if args.trace:
            result = per_layer(bench, tracer, read_event_log(
                os.path.join(run_dir, "eventlog")))
        else:
            result = bench.end_to_end()
    except Exception as exc:  # noqa: BLE001
        log(f"benchmark aborted: {exc!r}")
        return 3
    finally:
        shutdown(bench)

    if args.trace:
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": bench.correct and bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.items()},
    }))
    return 0


def shutdown(bench) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if bench.spark is not None:
        try:
            bench.spark.stop()
        except Exception:  # noqa: BLE001
            pass
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def per_layer(bench, tracer, log_) -> dict:
    """Per-layer metrics. Workload metrics and ``trace_overhead_frac``
    compare the untraced rounds (no event log, no wrappers) with the
    traced ones; span and engine metrics come from the traced rounds,
    counts and engine totals per traced round."""
    spans = tracer.spans
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731

    def durs(name):
        return [s["dur"] for s in spans if s["name"] == name and "dur" in s]

    def jobs_in(name):
        out = []
        for s in spans:
            if s["name"] == name and "dur" in s:
                groups = {f"pb{i}" for i in tracer.subtree(s["id"])}
                out.append(sum(1 for j in log_["jobs"].values() if j["group"] in groups))
        return out

    traced = [s for on, s in bench.rounds if on]
    n_traced = len(traced) or 1
    ops = [s["id"] for s in spans if "dur" in s and s["name"].startswith("op.")
           and s["name"] != "op.history_build"]
    per = {k: v / n_traced for k, v in engine_totals(log_, tracer, ops).items()}
    c = tracer.counts
    work = bench.workload_metrics()
    m = {name: (work.get(name, 0.0), unit) for name, unit in WORKLOAD_METRICS}
    m.update({
        "round_s": (statistics.median(bench.plain_rounds()), "s"),
        "session.start_s": (bench.session_s, "s"),
        "session.ship_s": (med(durs("session.ship_package")), "s"),
        # input generation and its write are one step (median set-up)
        "sources.gen_s": (bench.setup_s, "s"),
        "sources.rows": (bench.n_rows, "count"),
        "core.fit_s": (med(durs("core.fit")), "s"),
        "core.fit_jobs": (med(jobs_in("core.fit")), "count"),
        "core.transform_plan_s": (med(durs("core.transform")), "s"),
        "materialize.run_s": (med(durs("op.draw")), "s"),
        "materialize.jobs": (med(jobs_in("op.draw")), "count"),
        "materialize.bytes_written": (med(bench.layer.get("bytes_written")), "bytes"),
        "materialize.files_written": (med(bench.layer.get("files_written")), "count"),
        "materialize.units_computed": (med(bench.layer.get("units_computed")), "count"),
        "materialize.resume_jobs": (med(jobs_in("op.resume")), "count"),
        "asof.plan_s": (med(durs("bench.plan")), "s"),
        "asof.exec_s": (med(durs("bench.exec")), "s"),
        "asof.history_build_s": (med(durs("op.history_build")), "s"),
        "cache.spread_calls": (c["spread_calls"] / n_traced, "count"),
        "cache.spread_fired": (c["spread_fired"] / n_traced, "count"),
        "cache.spread_fired_ratio": (
            c["spread_fired"] / c["spread_calls"] if c["spread_calls"] else 0.0, "1"),
        "cache.spread_call_s": (c["spread_call_s"] / n_traced, "s"),
        "cache.persist_calls": (c["persist_calls"] / n_traced, "count"),
        "cache.live_handles_max": (max(bench.layer["live_handles"], default=0), "count"),
        "engine.jobs": (per["jobs"], "count"),
        "engine.tasks": (per["tasks"], "count"),
        "engine.executor_run_ms": (per["executor_run_ms"], "ms"),
        "engine.executor_cpu_ms": (per["executor_cpu_ns"] / 1e6, "ms"),
        "engine.gc_ms": (per["gc_ms"], "ms"),
        "engine.shuffle_write_bytes": (per["shuffle_write_bytes"], "bytes"),
        "engine.shuffle_write_ms": (per["shuffle_write_ns"] / 1e6, "ms"),
        "engine.shuffle_read_bytes": (per["shuffle_read_bytes"], "bytes"),
        "engine.spill_bytes": (per["spill_bytes"], "bytes"),
        "engine.sort_ms": (per["sort_ms"], "ms"),
        "engine.agg_ms": (per["agg_ms"], "ms"),
        "engine.python_total_ms": (per["python_total_ms"], "ms"),
        "engine.python_boot_ms": (per["python_boot_ms"], "ms"),
        "engine.python_bytes": (per["python_bytes"], "bytes"),
        "engine.planning_ms": (med(bench.layer["planning_ms"]), "ms"),
        "engine.driver_gap_ms": (per["driver_gap_ms"], "ms"),
        "failed_frac": (bench.failed / max(bench.attempted, 1), "1"),
        "trace_overhead_frac": (med(traced) / med(bench.plain_rounds()) - 1.0, "1"),
    })
    return m


if __name__ == "__main__":
    sys.exit(main())
