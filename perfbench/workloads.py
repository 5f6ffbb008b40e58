"""The benchmark's workloads: each drives the engine through its public
functions only, one closed-loop client, and checks every op's output.

A workload makes its inputs in ``generate`` (timed as set-up), then the
runner calls ``sequence`` until the time box is spent, then ``check``.
``sequence`` returns one record per op: its wall time, its job groups
and what the output check needs.
"""

from __future__ import annotations

import os
import time

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.compare import (
    bit_mismatch,
)
from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.operators.pipeline import (
    run_ingest_batch,
)
from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.plans.queries import (
    REGISTRY,
)
from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.streaming.alerts import (
    start_alert_query,
)

from . import gen
from .trace import tree_cpu_s


def _dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; checksum and marker files excluded."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("part-", "part_")) and not n.endswith(".crc"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    """Column- and row-order-free form of a result frame with one dtype
    per kind, so Spark and DuckDB outputs compare exactly."""
    out = df.copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif s.dtype == object:
            out[c] = s.map(lambda v: float(v) if hasattr(v, "as_tuple") else v)
    out = out[sorted(out.columns)]
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def oracle_mismatch(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when the engine's result equals the oracle's, value for value
    and bit for bit; else what differs first."""
    if sorted(actual.columns) != sorted(expected.columns):
        return f"columns {sorted(actual.columns)} vs {sorted(expected.columns)}"
    if len(actual) != len(expected):
        return f"rows {len(actual)} vs {len(expected)}"
    a, e = _norm(actual), _norm(expected)
    try:
        pd.testing.assert_frame_equal(a, e, check_dtype=False, check_exact=True)
    except AssertionError as err:
        return f"values: {str(err)[:300]}"
    return bit_mismatch(a, e)


class Workload:
    """Base: at least ``min_seqs`` op sequences per run; ``warm_from`` is
    the first sequence that counts toward the steady-state metrics."""

    min_seqs = 1
    warm_from = 0

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.input_dir = os.path.join(work, "input")

    def generate(self) -> None:
        raise NotImplementedError

    def sequence(self, k: int) -> list[dict]:
        raise NotImplementedError

    def check(self, ops: list[dict]) -> list[str]:
        raise NotImplementedError

    def _cpu_s(self) -> float:
        """CPU seconds of this driver process plus the JVM and its Python workers."""
        return time.process_time() + tree_cpu_s(self.spark.sparkContext._gateway.proc.pid)

    def _op(self, name: str, k: int, fn) -> dict:
        """Run one op as a span; an exception fails the op, not the run."""
        op = {"name": name, "seq": k, "group": f"s{k}.{name}", "error": None}
        c0, t0 = self._cpu_s(), time.perf_counter()
        try:
            fn(op)
        except Exception as e:  # noqa: BLE001 — a failing op is counted, the run goes on
            op["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        op["wall_s"] = time.perf_counter() - t0
        op["cpu_s"] = self._cpu_s() - c0
        return op


class Dashboard(Workload):
    """Refresh the Kibana panel set; every panel is collected to pandas,
    so each output column is computed, and checked against its DuckDB
    oracle after the timed window."""

    PANELS = {
        "a07_daily_activity": ("orders", "lineitem"),
        "a08_price_histogram": ("orders",),
        "a09_risk_buckets": ("events",),
        "a10_heatmap_share": ("orders",),
        "a11_top_users": ("events",),
        "a12_top_terms_other": ("documents",),
        "a13_minmax_metrics": ("lineitem",),
        "w02_topk_by_last_value": ("events",),
        "x21_runtime_fields": ("lineitem", "orders"),
        "x22_factor_normalize": ("events",),
    }
    SF = 0.01
    # The first refresh is cold and gives first_seq_cpu_s. The second
    # still pays JIT compilation (about 30% more CPU than the ones after
    # it), so it only settles the JVM. The warm ones from the third on
    # hold at least 20 panel samples, so their median is the highest
    # percentile with ten samples beyond it.
    min_seqs = 4
    warm_from = 2

    def generate(self) -> None:
        self.rows = gen.write_tables(self.input_dir, self.seed, self.SF)

    def sequence(self, k: int) -> list[dict]:
        ops = []
        for name, tables in self.PANELS.items():

            def run(op, name=name):
                with self.tracer.span("build", op["group"] + ".build") as b:
                    df = REGISTRY[name].fn(self.spark, self.input_dir)
                op["build_s"] = b["wall_s"]
                with self.tracer.span("run", op["group"] + ".run"):
                    op["result"] = df.toPandas()

            op = self._op(name, k, run)
            op["input_rows"] = sum(self.rows[t] for t in tables)
            ops.append(op)
        return ops

    def check(self, ops: list[dict]) -> list[str]:
        con = duckdb.connect()
        try:
            for t in self.rows:
                path = os.path.join(self.input_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            expected = {n: con.execute(REGISTRY[n].oracle_text()).fetchdf() for n in self.PANELS}
        finally:
            con.close()
        problems = []
        for op in ops:
            if op["error"] is None:
                diff = oracle_mismatch(op.pop("result"), expected[op["name"]])
                if diff:
                    op["error"] = f"oracle mismatch: {diff}"
            if op["error"]:
                problems.append(f"{op['group']}: {op['error']}")
        return problems


class FraudCycle(Workload):
    """The paper's production loop: poll cycles of ingest (score, lake
    append, dead letters, bulk delivery to a fake sink) plus an alert
    drain on a checkpoint kept across cycles, against market stats and
    user/review dims generated as inputs.

    Sizes are the reference caps divided by ``SCALE``; the late-data
    buffer and realert window are the reference's own."""

    SCALE = 25
    POLL = gen.POLL_CAP // SCALE
    CORPUS = gen.ANALYST_CAP // SCALE
    USERS = 2_000
    ALERT_IDS = POLL // 4
    SPAN_MIN = 10.0  # event-time minutes one cycle covers
    SINK_REJECT_PER_MILLE = 50

    def __init__(self, *a):
        super().__init__(*a)
        self.lake = os.path.join(self.work, "lake")
        self.dead = os.path.join(self.work, "dead")
        self.alert_dir = os.path.join(self.work, "alerts")
        self.ckpt = os.path.join(self.work, "alerts_ckpt")
        self.expected = []
        self.alert_batches = []
        self.alerts: set[tuple[str, int]] = set()
        acc = self.spark.sparkContext.accumulator
        self.posts, self.post_s, self.acked, self.posted = acc(0), acc(0.0), acc(0), acc(0)

    def _input(self, name: str) -> str:
        return os.path.join(self.input_dir, name)

    def generate(self) -> None:
        os.makedirs(self.input_dir, exist_ok=True)
        gen.write_market_stats(self._input("prime.parquet"), self._input("comp.parquet"),
                               self.seed, self.CORPUS)
        gen.write_dims(self._input("users.parquet"), self._input("reviews.parquet"),
                       self.seed, self.USERS)

    def _post_fn(self):
        """The fake bulk sink, run in Python workers: it refuses the docs
        ``gen.sink_rejects`` names and counts calls in accumulators."""
        seed, per_mille = self.seed, self.SINK_REJECT_PER_MILLE
        posts, post_s, acked, posted = self.posts, self.post_s, self.acked, self.posted

        def post(body: str) -> dict:
            import json

            t0 = time.perf_counter()
            lines = [ln for ln in body.split("\n") if ln]
            items = []
            for doc in lines[1::2]:
                if gen.sink_rejects(seed, json.loads(doc).get("id"), per_mille):
                    items.append({"index": {"status": 400, "error": {
                        "type": "mapper_parsing_exception", "reason": "refused"}}})
                else:
                    items.append({"index": {"status": 201}})
            n_ok = sum(1 for i in items if i["index"]["status"] == 201)
            posts.add(1)
            posted.add(len(items))
            acked.add(n_ok)
            post_s.add(time.perf_counter() - t0)
            return {"errors": n_ok < len(items), "items": items}

        return post

    def sequence(self, k: int) -> list[dict]:
        read = self.spark.read.parquet
        prime, comp = read(self._input("prime.parquet")), read(self._input("comp.parquet"))
        users, reviews = read(self._input("users.parquet")), read(self._input("reviews.parquet"))
        landing = os.path.join(self.work, f"landing{k}")
        os.makedirs(landing)
        self.expected.append(gen.write_landing_batch(
            os.path.join(landing, "batch.json"), self.seed, k, self.POLL, self.USERS,
            self.SINK_REJECT_PER_MILLE,
        ))
        events = gen.alert_events(self.seed, k, self.POLL, self.ALERT_IDS, self.SPAN_MIN)
        self.alert_batches.append(events)
        os.makedirs(self.alert_dir, exist_ok=True)
        gen.write_alert_events(os.path.join(self.alert_dir, f"cycle{k}.json"), events)

        def sink(batch_df, batch_id):
            rows = batch_df.select("id", F.unix_micros("crawl_timestamp").alias("us")).collect()
            self.alerts.update((r.id, r.us) for r in rows)

        def run(op):
            with self.tracer.span("ingest", op["group"] + ".ingest"):
                op["landed"] = run_ingest_batch(
                    self.spark, landing, prime, comp, self.lake,
                    users=users, reviews=reviews,
                    rejects_path=self.dead, post=self._post_fn(),
                )
            with self.tracer.span("alerts") as s:
                q = start_alert_query(
                    self.spark, self.alert_dir, self.ckpt, sink,
                    available_now=True, realert_minutes=gen.REALERT_MIN,
                )
                q.awaitTermination()
            op["stream"] = self.tracer.stream_drained(q, op["group"] + ".alerts")
            op["stream"]["drain_s"] = s["wall_s"]
            if self.tracer.enabled:
                op["write"] = [a + b for a, b in zip(_dir_size(self.lake), _dir_size(self.dead))]

        op = self._op("poll_cycle", k, run)
        op["input_rows"] = self.POLL
        return [op]

    def check(self, ops: list[dict]) -> list[str]:
        if all(o["error"] is None for o in ops):
            def rows(path):
                return self.spark.read.parquet(path).count() if os.path.exists(path) else 0

            lake, dead, sink_dead = rows(self.lake), rows(self.dead), rows(self.dead + "_sink")
            exp = {k: sum(e[k] for e in self.expected) for k in self.expected[0]}
            acked = self.acked.value
            rules = [
                ("landing lines = lake rows + dead letters + corrupt lines",
                 exp["lines"] == lake + dead + exp["corrupt"]),
                ("acked + sink rejects = lake rows", acked + sink_dead == lake),
                ("lake rows = planted valid rows", lake == exp["valid"]),
                ("sink rejects = planted sink rejects", sink_dead == exp["sink_rejects"]),
                ("landed = lake rows", sum(o["landed"] for o in ops) == lake),
                ("alerts = realert replay", self.alerts == gen.replay_realert(self.alert_batches)),
            ]
            broken = [name for name, ok in rules if not ok]
            if broken:
                detail = (f"lake={lake} dead={dead} sink_dead={sink_dead} acked={acked} "
                          f"alerts={len(self.alerts)} expected={exp}")
                for o in ops:
                    o["error"] = f"broken: {'; '.join(broken)} ({detail})"
        return [f"{o['group']}: {o['error']}" for o in ops if o["error"]]


WORKLOADS = {"fraud_cycle": FraudCycle, "dashboard": Dashboard}
