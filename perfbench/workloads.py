"""The three benchmark workloads.

Each workload builds its inputs from the seed through the engine's public
entry points, then runs one kind of op in a closed loop with one client:

- backlog_drain: `run_iceberg_meta_stream` drains a few large snapshots
  into a fresh namespace, so the per-row layers (scan, correlation,
  envelope build, sink write) do nearly all the work;
- live_tail: one small snapshot is appended past a long history and the
  same consumer resumes on it, so the fixed per-batch costs (snapshot
  resolution over the whole history, lineage listing, the emitted-view
  count, pending and heartbeat writes, job launches) dominate;
- wire_records: `maintain_changelog_records(fmt="avro")` turns a
  latest-state mirror's whole overwrite history into Debezium wire
  records, so `read_changelog`, the Avro pandas UDF and the materialize
  write dominate and the correlating sink does nothing.

Every op's output is checked against an answer computed another way.
The traced variant of each op calls the same layers one by one through
their public functions and times each call (see README.md).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from pyspark.sql import functions as F

from scylla_cdc_source_connector_spark.config import EngineConfig, IncludeMode
from scylla_cdc_source_connector_spark.fixtures import (
    FixtureSpec,
    make_changelog,
    write_changelog_chunk,
)
from scylla_cdc_source_connector_spark.functions import avro
from scylla_cdc_source_connector_spark.operators.correlation import (
    correlate_batch,
    is_complete_expr,
    mask_unused_images,
    needs_delta_flags,
)
from scylla_cdc_source_connector_spark.operators.kafka_records import (
    changelog_kafka_envelopes,
    kafka_records,
    maintain_changelog_records,
)
from scylla_cdc_source_connector_spark.operators.projection import build_envelopes
from scylla_cdc_source_connector_spark.plans.pipeline import cdc_envelopes
from scylla_cdc_source_connector_spark.schemas import DEFAULT_TABLE
from scylla_cdc_source_connector_spark.sources import iceberg_meta as im
from scylla_cdc_source_connector_spark.streaming import sink as sink_mod
from scylla_cdc_source_connector_spark.streaming.engine import run_iceberg_meta_stream

from harness import Tracer, noop

KEY = "clip_id"
#: Audio clips of 200-500 ms carry ~10 kB of real payload per image row.
#: Every other fixture knob keeps its default, exact-duplicate rows
#: included: make_changelog appends them after the last original row.
CLIP_MS = {"min_dur_ms": 200, "max_dur_ms": 500}
#: the changelog's log key: two rows equal on it are exact replays
LOG_KEY = ["cdc$stream_id", "cdc$time_us", "cdc$batch_seq_no", KEY, "cdc$operation"]


def engine_cfg(root: str) -> EngineConfig:
    # The stale-task timeout sits above the fixture's 25 s event
    # lateness, so every group split by a snapshot boundary completes in
    # the next batch and the streamed answer equals the batch answer;
    # stale eviction is not what these workloads measure.
    return EngineConfig(
        include_before=IncludeMode.FULL,
        include_after=IncludeMode.FULL,
        checkpoint_dir=f"{root}/ckpt",
        output_dir=f"{root}/out",
        lineage_dir=f"{root}/lineage",
        incomplete_task_timeout_ms=60_000,
    )


def build_table(loc: str, pdf, cuts: list[int]) -> list[int]:
    """Commit pdf[cuts[i]:cuts[i+1]] as one append snapshot each."""
    os.makedirs(f"{loc}/data", exist_ok=True)
    if not os.path.exists(f"{loc}/metadata"):
        im.create_table(loc, DEFAULT_TABLE.changelog_schema(), created_ms=0)
    sids = []
    for a, b in zip(cuts[:-1], cuts[1:]):
        p = f"{loc}/data/rows-{a:09d}.parquet"
        write_changelog_chunk(pdf.iloc[a:b], p)
        sids.append(im.append_files(loc, [p], timestamp_ms=b))
    return sids


def env_keys(df) -> list[tuple]:
    """Sorted (key, op, cdc$time_us) of envelope rows."""
    rows = df.select(KEY, F.col("value.op"), F.col("`cdc$time_us`")).collect()
    return sorted((r[0], r[1], r[2]) for r in rows)


def env_digest(df) -> tuple[int, int]:
    """Count plus an order-independent digest over (key, op, cdc$time)."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(KEY, F.col("value.op"), F.col("`cdc$time_us`")).cast(
                "decimal(38,0)"
            )
        ).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"] or 0)


class Workload:
    """One workload: inputs made by `build` (the timed set-up, through
    the engine's own calls) and an answer key made by `reference` (the
    benchmark's oracle, untimed); then `prepare` (untimed), `run` (the
    timed op), `check` and `cleanup` per op."""

    name = ""
    #: ops the pre-generated inputs allow (live_tail has a fixed tick pool)
    max_ops = 10**9
    #: a run measures a whole multiple of this many ops
    op_multiple = 1

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.rows_per_op = 0

    def build(self) -> None:
        raise NotImplementedError

    def reference(self) -> None:
        raise NotImplementedError

    def prepare(self, i: int) -> None:
        pass

    def run(self, i: int) -> None:
        raise NotImplementedError

    def check(self, i: int) -> bool:
        raise NotImplementedError

    def cleanup(self, i: int) -> None:
        pass

    def output_paths(self, i: int) -> list[str]:
        """Files and directories op i wrote."""
        raise NotImplementedError

    def check_final(self) -> bool:
        """A check over the whole run, after its last op."""
        return True

    def traced(self, i: int, tr: Tracer) -> dict:
        raise NotImplementedError

    def avro_sample(self, i: int):
        """A DataFrame of this op's output envelopes (a `value` column)."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# the jarless Iceberg drain, layer by layer
# ---------------------------------------------------------------------------


def traced_drain(spark, cfg, loc: str, op: int, tr: Tracer, *, from_sequence=None):
    """`run_iceberg_meta_stream` rebuilt from its layers' public calls,
    each in a span, followed by noop probes that split the sink's
    envelope pass into scan, correlation and envelope build.  Returns
    what the drain consumed and emitted, role self times (ms) and the
    spans' raw figures."""
    table = DEFAULT_TABLE
    schema = table.changelog_schema()
    batches, consumed = [], []
    with tr.span("op", op) as op_span:
        with tr.span("engine.stamp_source", op) as stamp:
            sink_mod.stamp_source(cfg, f"iceberg_meta:{os.path.abspath(loc)}")
        with tr.span("sink.make", op) as make:
            sink_fn = sink_mod.make_correlating_sink(cfg, table=table)
        with tr.span("engine.lineage_scan", op) as lineage:
            committed = set(sink_mod.committed_batch_ids(cfg))
        with tr.span("iceberg_meta.plan", op) as plan_span:
            resolved = im.added_files(loc)
        plan_span["snapshots_resolved"] = len(resolved)
        for b in resolved:
            seq = b["sequence_number"]
            if (from_sequence is not None and seq <= from_sequence) or seq in committed:
                continue
            df = spark.read.schema(schema).parquet(*b["files"])
            with tr.span("sink", op, batch_id=seq) as s:
                sink_fn(df, seq)
            consumed.append(b["snapshot_id"])
            batches.append((seq, b["files"], s))
        with tr.span("engine.emitted_count", op) as emitted:
            emitted_total = sink_mod.read_emitted(spark, cfg).count()

    # every role is a sum of measured spans or of the sink's own phase
    # timers, never the remainder of an enclosing span, so whatever no
    # timer covers (the sink's resume-state read and lineage commit, glue
    # between calls) shows as a gap in trace.coverage
    roles = {
        "plan": tr.ms(plan_span),
        "scan": 0.0,
        "correlation": 0.0,
        "encode": 0.0,
        # the exactly-once bookkeeping around the sink calls
        "write": sum(tr.ms(sp) for sp in (stamp, make, lineage, emitted)),
    }
    sink_phases = {"envelope_write": 0.0, "pending_write": 0.0, "heartbeat": 0.0}
    pending_rows = 0
    for seq, files, s in batches:
        df = spark.read.schema(schema).parquet(*files)
        corr = mask_unused_images(
            correlate_batch(
                df,
                delta_flags=needs_delta_flags(cfg),
                require_delta=False,
                table=table,
                cluster_by_stream=True,
            ),
            cfg,
        ).filter(is_complete_expr(cfg))
        # untimed: the first probe would also pay one-off costs (file
        # listing, code generation) that the probes after it do not
        noop(df)
        with tr.span("probe.scan", op, batch_id=seq, probe_of=s["id"]) as p_scan:
            noop(df)
        with tr.span("probe.correlation", op, batch_id=seq, probe_of=s["id"]) as p_corr:
            noop(corr)
        with tr.span("probe.projection", op, batch_id=seq, probe_of=s["id"]) as p_proj:
            noop(build_envelopes(corr, cfg, table=table))
        lin = sink_mod.read_lineage_one(cfg, seq)
        phases = {k: 1000.0 * v for k, v in lin.get("sink_phase_seconds", {}).items()}
        s["lineage_sink_ms"] = 1000.0 * lin.get("sink_seconds", 0.0)
        s["lineage_phase_ms"] = phases
        for k in sink_phases:
            sink_phases[k] += phases.get(k, 0.0)
        roles["scan"] += tr.ms(p_scan)
        roles["correlation"] += tr.ms(p_corr) - tr.ms(p_scan)
        roles["encode"] += tr.ms(p_proj) - tr.ms(p_corr)
        # the envelope pass runs scan, correlation and envelope build
        # before it writes; the probes stand for those
        roles["write"] += (
            phases.get("envelope_write", 0.0) - tr.ms(p_proj)
            + phases.get("pending_write", 0.0)
            + phases.get("heartbeat", 0.0)
        )
        if lin.get("has_pending"):
            pdir = sink_mod.pending_path(cfg, seq)
            pending_rows += spark.read.parquet(pdir).count()
    return {
        "consumed": consumed,
        "emitted_total": emitted_total,
        "op_ms": tr.ms(op_span),
        "roles": roles,
        "snapshots_resolved": len(resolved),
        "sink_phases": sink_phases,
        "pending_rows": pending_rows,
    }


# ---------------------------------------------------------------------------
# backlog_drain
# ---------------------------------------------------------------------------


class BacklogDrain(Workload):
    name = "backlog_drain"
    N_SNAPSHOTS = 2

    def build(self) -> None:
        spec = FixtureSpec(n_events=12_000, seed=self.seed, **CLIP_MS)
        pdf = make_changelog(spec)
        self.rows_per_op = len(pdf)
        self.loc = f"{self.work}/changelog"
        cuts = [len(pdf) * k // self.N_SNAPSHOTS for k in range(self.N_SNAPSHOTS + 1)]
        self.sids = build_table(self.loc, pdf, cuts)
        self.res: dict = {}

    def reference(self) -> None:
        ref_cfg = engine_cfg(f"{self.work}/ref")
        self.ref = env_digest(
            cdc_envelopes(
                self.spark.read.parquet(f"{self.loc}/data"),
                ref_cfg,
                processing_ts_ms=F.lit(0),
            )
        )

    def _cfg(self, i: int) -> EngineConfig:
        return engine_cfg(f"{self.work}/op-{i}")

    def run(self, i: int) -> None:
        self.res = run_iceberg_meta_stream(self.spark, self._cfg(i), self.loc)

    def check(self, i: int) -> bool:
        cfg = self._cfg(i)
        got = env_digest(sink_mod.read_emitted(self.spark, cfg))
        return (
            self.res.get("consumed") == self.sids
            and self.res.get("emitted_total") == self.ref[0]
            and got == self.ref
            and sink_mod.committed_batch_ids(cfg) == list(
                range(1, self.N_SNAPSHOTS + 1)
            )
        )

    def output_paths(self, i: int) -> list[str]:
        cfg = self._cfg(i)
        return [cfg.output_dir, cfg.lineage_dir]

    def cleanup(self, i: int) -> None:
        shutil.rmtree(f"{self.work}/op-{i}", ignore_errors=True)

    def traced(self, i: int, tr: Tracer) -> dict:
        self.res = traced_drain(self.spark, self._cfg(i), self.loc, i, tr)
        return self.res

    def avro_sample(self, i: int):
        return sink_mod.read_emitted(self.spark, self._cfg(i))


# ---------------------------------------------------------------------------
# live_tail
# ---------------------------------------------------------------------------


class LiveTail(Workload):
    name = "live_tail"
    N_HISTORY = 200
    N_TICKS = 40
    max_ops = N_TICKS - 6  # ticks 0-5 are the warm-up (run.WARM_UP_OPS)
    op_multiple = 2  # whole pairs of ticks: every run appends ~200 events a tick

    def build(self) -> None:
        self.loc = f"{self.work}/changelog"
        # history the consumer starts past: small real snapshots whose
        # manifests every resolve still walks
        hist = make_changelog(
            FixtureSpec(
                n_events=self.N_HISTORY * 8,
                n_clips=200,
                seed=self.seed + 7,
                min_dur_ms=50,
                max_dur_ms=100,
            )
        )
        hcuts = np.linspace(0, len(hist), self.N_HISTORY + 1).astype(int).tolist()
        build_table(self.loc, hist, hcuts)
        self.from_seq = self.N_HISTORY
        # the live changelog in ticks of 100-300 events.  Ticks come in
        # pairs of a and 400-a events, so every run appends about the
        # same rows per tick whatever the seed, and every cut is moved
        # forward into a (key, cdc$time) group, so each tick leaves one
        # group incomplete: every tick reads and writes pending state.
        self.pool = make_changelog(
            FixtureSpec(n_events=self.N_TICKS * 200, seed=self.seed, **CLIP_MS)
        )
        rng = np.random.default_rng(self.seed)
        a = rng.integers(100, 301, self.N_TICKS // 2)
        events = np.stack([a, 400 - a], axis=1).ravel()
        rows_per_event = len(self.pool) / (self.N_TICKS * 200)
        nominal = np.cumsum((events * rows_per_event).astype(int))
        group = (self.pool[KEY] + "@" + self.pool["cdc$time_us"].astype(str)).to_numpy()
        inside = np.flatnonzero(group[1:] == group[:-1]) + 1
        cuts = inside[np.minimum(np.searchsorted(inside, nominal), len(inside) - 1)]
        self.cuts = [0, *np.maximum.accumulate(cuts).tolist()]
        self.cfg = engine_cfg(f"{self.work}/consumer")
        self.seqs: list[int] = []
        self.res: dict = {}
        self.tick = -1

    def reference(self) -> None:
        """The batch answer over the whole live changelog; an envelope is
        due in the tick that delivers the last row of its (key, cdc$time)
        group."""
        pool = self.pool
        pool_path = f"{self.work}/pool.parquet"
        write_changelog_chunk(pool, pool_path)
        ref = env_keys(
            cdc_envelopes(
                self.spark.read.parquet(pool_path),
                engine_cfg(f"{self.work}/ref"),
                processing_ts_ms=F.lit(0),
            )
        )
        os.remove(pool_path)
        tick = np.searchsorted(np.asarray(self.cuts[1:]), np.arange(len(pool)), "right")
        # a group completes when the first copy of each of its rows has
        # arrived; a replayed copy in a later tick completes nothing
        due = (
            pool.assign(tick=tick)[~pool.duplicated(LOG_KEY)]
            .groupby([KEY, "cdc$time_us"])["tick"]
            .max()
            .to_dict()
        )
        self.expected: dict[int, list] = {}
        for k, op, t in ref:
            self.expected.setdefault(due[(k, t)], []).append((k, op, t))

    def prepare(self, i: int) -> None:
        self.tick += 1
        if self.tick >= self.N_TICKS:
            raise RuntimeError("live_tail ran out of pre-generated ticks")
        a, b = self.cuts[self.tick], self.cuts[self.tick + 1]
        self.rows_per_op = b - a
        p = f"{self.loc}/data/tick-{self.tick:05d}.parquet"
        write_changelog_chunk(self.pool.iloc[a:b], p)
        self.sid = im.append_files(self.loc, [p], timestamp_ms=10**9 + b)
        self.seqs.append(im.current_metadata(self.loc)["last-sequence-number"])

    def run(self, i: int) -> None:
        self.res = run_iceberg_meta_stream(
            self.spark, self.cfg, self.loc, from_sequence=self.from_seq
        )

    def check(self, i: int) -> bool:
        seq = self.seqs[-1]
        bdir = sink_mod.batch_output_path(self.cfg, seq)
        got = (
            env_keys(self.spark.read.parquet(bdir)) if os.path.isdir(bdir) else []
        )
        want = sorted(self.expected.get(self.tick, []))
        n_due = sum(len(self.expected.get(t, [])) for t in range(self.tick + 1))
        return (
            self.res.get("consumed") == [self.sid]
            and sink_mod.committed_batch_ids(self.cfg) == self.seqs
            and got == want
            and self.res.get("emitted_total") == n_due
        )

    def output_paths(self, i: int) -> list[str]:
        seq = self.seqs[-1]
        return [
            sink_mod.batch_output_path(self.cfg, seq),
            sink_mod.pending_path(self.cfg, seq),
            sink_mod.heartbeat_path(self.cfg, seq),
            sink_mod.lineage_path(self.cfg, seq),
        ]

    def check_final(self) -> bool:
        """The whole emitted view equals the batch answer for every group
        completed by the last tick, with no batch committed twice."""
        want = sorted(
            x for t in range(self.tick + 1) for x in self.expected.get(t, [])
        )
        got = env_keys(sink_mod.read_emitted(self.spark, self.cfg))
        lineage = sink_mod.read_lineage(self.cfg)
        ids = [r["batch_id"] for r in lineage]
        return got == want and len(ids) == len(set(ids)) == len(self.seqs)

    def traced(self, i: int, tr: Tracer) -> dict:
        self.res = traced_drain(
            self.spark, self.cfg, self.loc, i, tr, from_sequence=self.from_seq
        )
        return self.res

    def avro_sample(self, i: int):
        return sink_mod.read_emitted(self.spark, self.cfg)


# ---------------------------------------------------------------------------
# wire_records
# ---------------------------------------------------------------------------


class WireRecords(Workload):
    name = "wire_records"
    N_PASSES = 2

    def build(self) -> None:
        spark = self.spark
        # short clips (~2 kB per image): each op re-serializes the whole
        # history, so this keeps an op's writes small next to page cache
        pdf = make_changelog(
            FixtureSpec(
                n_events=8_000,
                n_clips=2_000,
                seed=self.seed,
                min_dur_ms=50,
                max_dur_ms=150,
            )
        )
        self.loc = f"{self.work}/changelog"
        self.mirror = f"{self.work}/mirror"
        cfg = engine_cfg(f"{self.work}/drain")
        cuts = [len(pdf) * k // self.N_PASSES for k in range(self.N_PASSES + 1)]
        # each pass: one snapshot drained, then one mirror pass, so the
        # mirror's history is an append followed by overwrites carrying
        # position deletes
        for k in range(self.N_PASSES):
            build_table(self.loc, pdf, cuts[k : k + 2])
            run_iceberg_meta_stream(spark, cfg, self.loc)
            im.maintain_latest_state_mirror(spark, cfg, self.mirror)
        self.res: dict = {}

    def reference(self) -> None:
        """Per-op-type counts of the paired changelog, and the mirror's
        current state, which last-writer-wins over the records must
        reproduce."""
        spark = self.spark
        cl = im.read_changelog(spark, self.mirror, identifier_columns=[KEY])
        counts = {r[0]: r[1] for r in cl.groupBy("_change_type").count().collect()}
        self.want_ops = {
            "c": counts.get("INSERT", 0),
            "u": counts.get("UPDATE_AFTER", 0),
            "d": counts.get("DELETE", 0),
        }
        self.rows_per_op = sum(counts.values())
        env = changelog_kafka_envelopes(cl, [KEY])
        self.key_schema = avro.avro_schema_of(env.schema["key"].dataType)
        self.value_schema = avro.avro_schema_of(env.schema["value"].dataType)
        self.state = {
            r[KEY]: r.asDict() for r in im.read_table(spark, self.mirror).collect()
        }

    def _dir(self, i: int) -> str:
        return f"{self.work}/records-{i}"

    def run(self, i: int) -> None:
        self.res = maintain_changelog_records(
            self.spark, self.mirror, self._dir(i), [KEY], fmt="avro"
        )

    def check(self, i: int) -> bool:
        import pyarrow.parquet as pq

        t = pq.read_table(
            self._dir(i),
            columns=["key", "value", "cdc$batch_seq_no"],
        ).to_pydict()
        ops = {"c": 0, "u": 0, "d": 0}
        latest: dict = {}
        for kraw, vraw, seq in zip(t["key"], t["value"], t["cdc$batch_seq_no"]):
            key = avro.decode_record(self.key_schema, kraw)[KEY]
            v = avro.decode_record(self.value_schema, vraw)
            ops[v["op"]] += 1
            if key not in latest or seq > latest[key][0]:
                latest[key] = (seq, v)
        state = {
            k: dict(v["after"]) for k, (_s, v) in latest.items() if v["op"] != "d"
        }
        return (
            ops == self.want_ops
            and self.res.get("records") == len(t["key"])
            and state == self.state
        )

    def output_paths(self, i: int) -> list[str]:
        return [self._dir(i)]

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self._dir(i), ignore_errors=True)

    def traced(self, i: int, tr: Tracer) -> dict:
        """maintain_changelog_records rebuilt from its public layers:
        materialize_increment around read_changelog ->
        changelog_kafka_envelopes -> kafka_records, then noop probes."""
        spark, loc, op = self.spark, self.mirror, i
        built = {}

        def build(last, head):
            # read_changelog resolves the table metadata; the other two
            # calls only build plans
            with tr.span("changelog.plan", op) as p:
                cl = im.read_changelog(
                    spark,
                    loc,
                    after_snapshot_id=last,
                    to_snapshot_id=head,
                    identifier_columns=[KEY],
                )
                env = changelog_kafka_envelopes(
                    cl, [KEY], source_table=os.path.basename(os.path.normpath(loc))
                ).withColumn("batch", F.col("value.source.snapshot_id"))
                rec = kafka_records(env, fmt="avro", extra_cols=("batch",))
            built.update(plan=p, cl=cl, env=env, rec=rec)
            return rec

        with tr.span("op", op) as op_span:
            with tr.span("materialize", op) as m:
                res = im.materialize_increment(
                    spark,
                    loc,
                    self._dir(i),
                    "_records_state.json",
                    {
                        "key_columns": [KEY],
                        "scope": None,
                        "fmt": "avro",
                        "topic": "iceberg.changelog",
                        "schemas_enable": False,
                        "source_table": None,
                    },
                    build,
                )
        self.res = {"records": res["rows"]}
        noop(built["cl"])  # untimed, as in traced_drain
        with tr.span("probe.changelog", op, probe_of=m["id"]) as p_cl:
            noop(built["cl"])
        with tr.span("probe.kafka_envelope", op, probe_of=m["id"]) as p_env:
            noop(built["env"])
        with tr.span("probe.serialize", op, probe_of=m["id"]) as p_rec:
            noop(built["rec"])
        # the records write as materialize_increment makes it (persist,
        # partitioned write, count) into a scratch dir: timed on its own,
        # not taken as the remainder of the materialize span, so the
        # increment resolve and the hwm commit show as a gap in
        # trace.coverage
        probe_dir = f"{self.work}/probe-write-{i}"
        rec = built["rec"]
        with tr.span("probe.write", op, probe_of=m["id"]) as p_write:
            rec.persist()
            rec.write.mode("overwrite").partitionBy("batch").parquet(probe_dir)
            rec.count()
            rec.unpersist()
        shutil.rmtree(probe_dir, ignore_errors=True)
        roles = {
            "plan": tr.ms(built["plan"]),
            "scan": tr.ms(p_cl),
            "correlation": tr.ms(p_env) - tr.ms(p_cl),
            "encode": tr.ms(p_rec) - tr.ms(p_env),
            "write": tr.ms(p_write) - tr.ms(p_rec),
        }
        return {
            "op_ms": tr.ms(op_span),
            "roles": roles,
            "snapshots_resolved": len(res["consumed"]),
            "sink_phases": {"envelope_write": 0.0, "pending_write": 0.0, "heartbeat": 0.0},
            "pending_rows": 0,
        }

    def avro_sample(self, i: int):
        cl = im.read_changelog(self.spark, self.mirror, identifier_columns=[KEY])
        return changelog_kafka_envelopes(cl, [KEY])


WORKLOADS = {w.name: w for w in (BacklogDrain, LiveTail, WireRecords)}


def avro_kernel_ms_per_krow(df, n: int = 1000) -> float:
    """Single-threaded `encode_record` over up to n of the op's output
    envelope values, outside Spark: the Avro kernel without the Arrow
    boundary."""
    schema = avro.avro_schema_of(df.schema["value"].dataType)
    rows = [r["value"].asDict(recursive=True) for r in df.select("value").limit(n).collect()]
    t = time.perf_counter()
    for r in rows:
        avro.encode_record(schema, r)
    return (time.perf_counter() - t) * 1000.0 * 1000.0 / max(len(rows), 1)
