"""One benchmark sample, run as a child of perfbench/run.py.

Drives the program's CDC loop (ChainStreamer over a generated WAL) through
its public API, with a closed-loop snapshot reader beside it, then checks
the warehouse against the WAL and prints one JSON result line.

Workloads (see perfbench/README.md for sizes and reasons):

* ``tail``     — open loop: blocks are released on a wall-clock schedule
                 to a streamer that starts from a pre-loaded history.
* ``backfill`` — the whole WAL is released at once and replayed as one
                 staged-spill batch and a cache-path remainder.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import asdict, dataclass

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SEQ_PER_BLOCK = 16  # the WAL envelope's seq = block * 16 + intra


@dataclass(frozen=True)
class Workload:
    blocks_per_s: float  # measured blocks per second of --seconds
    open_loop: bool  # released at blocks_per_s; else all at once
    batch_blocks: int  # catch-up batch cap, in blocks
    # StreamerConfig.stage_min_blocks; None keeps the program's default
    stage_min_blocks: int | None = None


WORKLOADS = {
    # a burst at the chain head, faster than the streamer's sustainable
    # rate (about 8 blocks/s), so that a run holds 100+ blocks; batches stay
    # under the program's staging threshold (in-heap cache path)
    "tail": Workload(blocks_per_s=34.0, open_loop=True, batch_blocks=112),
    # a full batch at the staging threshold (staged-spill path), then the
    # remainder (in-heap cache path)
    "backfill": Workload(
        blocks_per_s=64.0, open_loop=False, batch_blocks=128, stage_min_blocks=128
    ),
}
HISTORY_BLOCKS = 16  # committed during set-up: history and warm-up
REORG_AT = (0.3, 0.6)  # fork positions, as fractions of the measured range
REORG_LAG = 8  # blocks between an original and its fork
# seed s replays segment s mod SEGMENTS of one shared generated chain: the
# chain is generated once per checkout, and a cold generation would
# otherwise cost every run 12-18 s of its ~60 s
SEGMENTS = 16
ENTITIES = (
    "block", "transaction", "receipt", "log", "token_transfer", "token_balance",
    "candle",
)
TXS_PER_BLOCK = 4
LOGS_PER_TX = 2
FORK_KEY_SHIFT = 3  # the fork drops/moves keys, so balance repair has work
# how Spark reports a data file that a concurrent commit deleted, at
# planning time or while a task reads it
VANISHED_FILE_ERRORS = ("PATH_NOT_FOUND", "FILE_NOT_EXIST", "NoSuchFileException")
# the per-table merge timings reported by the traced run
MERGE_TABLES = (
    "blocks", "transactions", "receipts", "logs", "token_transfers",
    "token_balances", "token_balances_latest", "candles_1m",
)


def log(*a) -> None:
    print("perfbench:", *a, file=sys.stderr, flush=True)


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


# ---------------------------------------------------------------- set-up


def start_spark(cpus: int, run_dir: str, trace: bool):
    """Spark as the program configures it, at local[cpus]. Executors import
    the package from this checkout through PYTHONPATH: the session's own
    shipping (session._ship_package) reuses any /tmp zip whose name matches
    a hash of the package path, which can hand workers another checkout's
    code, and it writes outside the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from ethereum_etl_spark import session

    session._ship_package = lambda spark: None
    # JVM temp files go under the run dir, and the JVMs' perf counters stay
    # in memory instead of a file under /tmp/hsperfdata_<user>
    jvm_opts = f"-XX:+PerfDisableSharedMem -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    conf = {"spark.driver.extraJavaOptions": jvm_opts}
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(run_dir, "eventlog")
        conf["spark.eventLog.compress"] = "false"
    spark = session.get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("WARN" if trace else "ERROR")
    return spark


@dataclass(frozen=True)
class Segment:
    """The part of the shared chain one seed replays: blocks
    [base, base + history + measured), with its forks."""

    index: int
    base: int
    history: int
    measured: int
    reorg_blocks: tuple[int, ...]

    @property
    def end(self) -> int:
        return self.base + self.history + self.measured


def chain_spec(w: Workload, seconds: int):
    """One chain of SEGMENTS equal segments. It depends on the workload and
    --seconds only, so it is generated once per checkout."""
    from ethereum_etl_spark.sources.wal import ChainWalSpec

    n = HISTORY_BLOCKS + int(w.blocks_per_s * seconds)
    return ChainWalSpec(
        start_block=0,
        end_block=SEGMENTS * n - 1,
        txs_per_block=TXS_PER_BLOCK,
        logs_per_tx=LOGS_PER_TX,
        seed="perfbench",
        reorg_blocks=tuple(
            s * n + HISTORY_BLOCKS + int(f * (n - HISTORY_BLOCKS))
            for s in range(SEGMENTS) for f in REORG_AT
        ),
        reorg_lag=REORG_LAG,
        fork_key_shift=FORK_KEY_SHIFT,
    )


def segment_of(spec, seed: int) -> Segment:
    n = (spec.end_block + 1) // SEGMENTS
    i = seed % SEGMENTS
    base = i * n
    return Segment(
        i, base, HISTORY_BLOCKS, n - HISTORY_BLOCKS,
        tuple(b for b in spec.reorg_blocks if base <= b < base + n),
    )


def load_wal(spark, spec):
    """The generated chain, cached under the work dir keyed by the spec AND
    the generator's source, so a changed generator never reuses old input,
    with a fingerprint per segment: event count, an order-independent hash
    and the head seq. Token metadata rows are left out: the generator emits
    them in the first blocks only, which would make segment 0 unlike the
    rest, and this benchmark's entity set does not use them (they feed the
    DEX dimensions). Returns (wal df, {segment: fingerprint})."""
    from pyspark.sql import functions as F

    import ethereum_etl_spark.sources.wal as walmod

    with open(walmod.__file__, "rb") as f:
        gen_src = f.read()
    key = hashlib.sha256(
        json.dumps(asdict(spec), sort_keys=True).encode() + gen_src
    ).hexdigest()[:20]
    path = os.path.join(WORK, "wal", key)
    fp_path = os.path.join(path, "_FINGERPRINTS.json")
    n = (spec.end_block + 1) // SEGMENTS
    if not os.path.exists(fp_path):
        shutil.rmtree(path, ignore_errors=True)
        (
            walmod.generate_chain_wal(spark, spec)
            .filter(F.col("entity_type") != "token")
            .coalesce(4).write.parquet(path)
        )
        h = F.xxhash64("seq", "block_number", "block_hash", "entity_type", "op", "payload")
        rows = (
            spark.read.parquet(path)
            .groupBy(F.floor(F.col("block_number") / n).alias("segment"))
            .agg(
                F.count(F.lit(1)).alias("events"),
                F.bit_xor(h).alias("x"),
                F.sum(h.bitwiseAND(0xFFFFFFFF)).alias("s"),
                F.max("seq").alias("head_seq"),
            )
            .collect()
        )
        fps = {
            r["segment"]: {
                "events": r["events"],
                "hash": f"{r['x'] & (2**64 - 1):016x}{r['s']:x}",
                "head_seq": r["head_seq"],
            }
            for r in rows
        }
        with open(fp_path + ".tmp", "w") as f:
            json.dump(fps, f)
        os.replace(fp_path + ".tmp", fp_path)
    with open(fp_path) as f:
        fps = {int(k): v for k, v in json.load(f).items()}
    return spark.read.parquet(path), fps


def make_tailer_cls():
    from ethereum_etl_spark.sources.wal import WalTailer

    class ReleasingTailer(WalTailer):
        """The chain head as an open-loop source: the WAL holds the whole
        chain, and ``head`` (still one max(seq) job per poll) is capped at
        the seq released so far by the bench's clock."""

        def __init__(self, wal_df, batch_size, released_seq):
            super().__init__(wal_df, batch_size=batch_size)
            self.released_seq = released_seq

        def head(self, refresh: bool = False) -> int:
            return min(super().head(refresh), self.released_seq())

    return ReleasingTailer


# ---------------------------------------------------------------- reader


class Reader(threading.Thread):
    """One closed-loop client: issues the read mix back to back against the
    committed tables until stopped. Each read is timed from its call to
    the end of its action; a read that raises counts as failed."""

    def __init__(self, streamer, keys: dict, committed_block, tracer=None):
        super().__init__(daemon=True, name="perfbench-reader")
        self.t = streamer.tables
        self.keys = keys
        self.committed_block = committed_block
        self.tracer = tracer
        self.stop_evt = threading.Event()
        self.lat: list[float] = []
        self.failed = 0
        self.retries = 0
        self.block_reads: list[tuple[float, list]] = []
        self.input_files: list[int] = []

    def mix(self):
        from pyspark.sql import functions as F

        k = self.keys

        def recent_blocks(hb):
            df = self.t["blocks"].read(prune_min=hb - 15, prune_max=hb)
            return df, lambda d: [(r[0], r[1]) for r in d.select("number", "hash").collect()]

        def holder_balance(hb):
            df = self.t["token_balances_latest"].read().filter(
                F.col("holder_address") == k["holder"]
            )
            return df, lambda d: d.collect()

        def token_transfers(hb):
            df = self.t["token_transfers"].read(prune_min=hb - 15, prune_max=hb).filter(
                F.col("token_address") == k["token"]
            )
            return df, lambda d: d.collect()

        def token_candles(hb):
            df = self.t["candles_1m"].read(prune_min=k["candle_from"]).filter(
                F.col("token_address") == k["token"]
            )
            return df, lambda d: d.collect()

        return [recent_blocks, holder_balance, token_transfers, token_candles]

    def attempt(self, op, hb):
        try:
            df, action = op(hb)
            return df, action(df)
        except Exception as e:  # noqa: BLE001 — only the GC race is retried
            if not any(m in str(e) for m in VANISHED_FILE_ERRORS):
                raise
        # a concurrent commit garbage-collected the snapshot's files between
        # resolving the manifest and reading them: resolve it again, once
        self.retries += 1
        df, action = op(hb)
        return df, action(df)

    def run(self) -> None:
        mix = self.mix()
        i = 0
        while not self.stop_evt.is_set():
            op = mix[i % len(mix)]
            i += 1
            hb = self.committed_block()
            sp = self.tracer.open(f"reader.{op.__name__}") if self.tracer else None
            t0 = time.time()
            try:
                df, rows = self.attempt(op, hb)
            except Exception:  # noqa: BLE001 — a failed read is a result
                self.failed += 1
                log("read failed:\n" + traceback.format_exc(limit=3))
                continue
            finally:
                if sp is not None:
                    self.tracer.close(sp)
            self.lat.append(time.time() - t0)
            if op.__name__ == "recent_blocks":
                self.block_reads.append((t0, rows))
            if self.tracer is not None:
                self.input_files.append(len(df.inputFiles()))

    def stop(self) -> None:
        self.stop_evt.set()
        self.join()


def pick_keys(wal, measured_from: int, seed: int) -> dict:
    """Reader keys, drawn by the seed from the history blocks: a holder
    that the transfer logs touch, the hot token, and the candle range from
    a few minutes before those blocks onward."""
    from pyspark.sql import functions as F

    from ethereum_etl_spark.sources.wal import HOT_TOKEN

    head = wal.filter(F.col("block_number") < measured_from)
    holders = sorted({
        "0x" + r[0][-40:]
        for r in head.filter(F.col("entity_type") == "log")
        .select(F.get_json_object("payload", "$.topics[1]")).collect()
    })
    ts = head.filter(F.col("entity_type") == "block").agg(
        F.min(F.get_json_object("payload", "$.timestamp").cast("long"))
    ).first()[0]
    return {
        "holder": holders[seed % len(holders)],
        "token": HOT_TOKEN,
        "candle_from": (ts // 60 - 5) * 60,
    }


# ---------------------------------------------------------------- checks


@dataclass
class WalTruth:
    """What the warehouse must hold, computed from the WAL: per raw entity
    the count of winning rows (rows whose block hash is the latest-seq hash
    of their block), the orphaned (block, hash) pairs, and the winning hash
    of every forked block."""

    winning_rows: dict[str, int]
    orphans: set[tuple[int, str]]
    fork_hash: dict[int, str]

    @staticmethod
    def of(wal) -> "WalTruth":
        from pyspark.sql import functions as F

        winners = wal.groupBy("block_number").agg(F.max_by("block_hash", "seq").alias("win"))
        rows = (
            wal.join(winners, "block_number")
            .groupBy("entity_type", "block_number", "block_hash",
                     (F.col("block_hash") == F.col("win")).alias("won"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        truth = WalTruth({}, set(), {})
        for r in rows:
            if r["won"]:
                e = r["entity_type"]
                truth.winning_rows[e] = truth.winning_rows.get(e, 0) + r["n"]
            else:
                truth.orphans.add((r["block_number"], r["block_hash"]))
        forked = {b for b, _ in truth.orphans}
        for r in rows:
            if r["won"] and r["entity_type"] == "block" and r["block_number"] in forked:
                truth.fork_hash[r["block_number"]] = r["block_hash"]
        return truth


def orphan_rows(tables: dict, orphans: set[tuple[int, str]]) -> dict[str, int]:
    """Rows per table that carry a fork-orphaned (block number, block hash),
    over every table that has both columns — one job."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = []
    for name, t in tables.items():
        cols = set(t.manifest().schema.fieldNames())
        if name == "blocks":
            bn, bh = "number", "hash"
        elif {"block_number", "block_hash"} <= cols:
            bn, bh = "block_number", "block_hash"
        else:
            continue
        hit = reduce(
            lambda acc, o: acc | ((F.col(bn) == o[0]) & (F.col(bh) == o[1])),
            sorted(orphans), F.lit(False),
        )
        parts.append(t.read().filter(hit).select(F.lit(name).alias("table")))
    found = reduce(lambda x, y: x.unionByName(y), parts).groupBy("table").count().collect()
    return {r["table"]: r["count"] for r in found}


def check_warehouse(streamer, truth: WalTruth) -> list[str]:
    """Failures (empty when correct): each raw-entity table holds exactly
    the WAL's winning rows, and no table keeps a fork-orphaned block hash."""
    errors = []
    if not truth.orphans:
        errors.append("the WAL has no fork: the orphan check would be vacuous")
    for entity, table in (
        ("block", "blocks"), ("transaction", "transactions"), ("receipt", "receipts"),
        ("log", "logs"),
    ):
        got = streamer.tables[table].row_count()
        want = truth.winning_rows.get(entity, 0)
        if got != want:
            errors.append(f"{table}: {got} rows, the WAL has {want} winning rows")
    for name, n in sorted(orphan_rows(streamer.tables, truth.orphans).items()):
        errors.append(f"{name}: {n} rows keep a fork-orphaned block hash")
    return errors


def check_reads(reader: "Reader", fork_commits: dict[int, tuple[str, float]],
                head_block: int) -> list[str]:
    """Each recent-block read saw only released blocks, and no orphaned hash
    of a fork committed before the read started."""
    errors = []
    for t0, rows in reader.block_reads:
        for number, h in rows:
            if number > head_block:
                errors.append(f"read saw unreleased block {number}")
            fc = fork_commits.get(number)
            if fc is not None and fc[1] < t0 and h != fc[0]:
                errors.append(f"read at {t0:.3f} saw orphaned hash of block {number}")
    return errors[:5]


def corruption_is_caught(streamer, truth: WalTruth) -> bool:
    """Self-test: append a block row carrying an orphaned hash to the
    finished warehouse with LakeTable.append; the orphan check must then
    report it."""
    from pyspark.sql import functions as F

    number, orphan_hash = min(truth.orphans)
    blocks = streamer.tables["blocks"]
    row = blocks.read().filter(F.col("number") == number).withColumn(
        "hash", F.lit(orphan_hash)
    )
    blocks.append(row, batch_id="perfbench-selftest")
    return orphan_rows({"blocks": blocks}, truth.orphans).get("blocks", 0) > 0


# ---------------------------------------------------------------- run


def run(args) -> dict:
    w = WORKLOADS[args.workload]
    trace = bool(args.trace)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    stderr_log = None
    if trace:
        # the Spark driver JVM logs to this process's stderr; keep it for
        # the codegen-fallback count
        stderr_log = os.path.join(run_dir, "stderr.log")
        fd = os.open(stderr_log, os.O_WRONLY | os.O_CREAT, 0o644)
        os.dup2(fd, 2)
        os.close(fd)

    setup = {}
    t = time.time()
    spark = start_spark(cpus, run_dir, trace)
    setup["session"] = time.time() - t
    from ethereum_etl_spark.streaming import ChainStreamer, StreamerConfig

    from pyspark.sql import functions as F

    t = time.time()
    spec = chain_spec(w, args.seconds)
    seg = segment_of(spec, args.seed)
    chain, fps = load_wal(spark, spec)
    fp = fps[seg.index]
    wal = chain.filter(
        (F.col("block_number") >= seg.base) & (F.col("block_number") < seg.end)
    )
    setup["wal"] = time.time() - t

    t = time.time()
    cfg = StreamerConfig(
        warehouse=os.path.join(run_dir, "warehouse"),
        batch_size=w.batch_blocks * SEQ_PER_BLOCK,
        entity_types=ENTITIES,
        candle_buckets=("1m",),
    )
    if w.stage_min_blocks is not None:
        cfg.stage_min_blocks = w.stage_min_blocks
    streamer = ChainStreamer(spark, cfg)
    h = seg.base + seg.history  # first measured block
    final_seq = fp["head_seq"]
    released = {"seq": h * SEQ_PER_BLOCK - 1}
    tailer = make_tailer_cls()(wal, cfg.batch_size, lambda: released["seq"])
    wm = streamer.run(tailer, start=seg.base * SEQ_PER_BLOCK)
    keys = pick_keys(wal, h, args.seed)
    setup["history"] = time.time() - t

    tracer = live0 = None
    if trace:
        from perfbench.spans import Tracer

        tracer = Tracer()
        tracer.install(lambda: tailer.released_seq())
        live0 = lake_live(streamer)
    n_hist = len(streamer.lineage.entries())
    setup_s = time.time() - T_START
    log(f"set-up {setup_s:.1f}s", {k: round(v, 1) for k, v in setup.items()})

    # -- measured phase: release on the clock, tail, read beside it
    t0 = time.time()
    if not w.open_loop:
        released["seq"] = final_seq

        def release_time(b):
            return t0
    else:
        def release_time(b):
            return t0 + (b - h + 1) / w.blocks_per_s

    def released_seq():
        if w.open_loop and released["seq"] < final_seq:
            blocks = h + int((time.time() - t0) * w.blocks_per_s)
            released["seq"] = min(blocks * SEQ_PER_BLOCK - 1, final_seq)
        return released["seq"]

    tailer.released_seq = released_seq
    committed = {"block": (wm + 1) // SEQ_PER_BLOCK - 1}
    reader = Reader(streamer, keys, lambda: committed["block"], tracer)
    reader.start()
    cycles_failed = 0
    while wm < final_seq:
        try:
            nxt = streamer.run(tailer, start=0)
        except Exception:  # noqa: BLE001 — retried through the intent replay
            cycles_failed += 1
            log("cycle failed:\n" + traceback.format_exc(limit=5))
            if cycles_failed > 3:
                raise
            continue
        if nxt == wm:
            time.sleep(0.02)
        wm = nxt
        committed["block"] = (wm + 1) // SEQ_PER_BLOCK - 1
    t_end = time.time()
    reader.stop()
    log(f"measured {t_end - t0:.1f}s")

    entries = [e for e in streamer.lineage.entries()[n_hist:] if "phase_secs" in e]
    layer = per_layer(spark, streamer, tracer, reader, entries, t0, live0) if trace else None

    # -- freshness: commit time of the cycle holding a block − its release
    def commit_of(seq):
        for e in entries:
            if e["lo"] < seq <= e["hi"]:
                return e["ts"]
        raise KeyError(seq)

    fresh = [commit_of(b * SEQ_PER_BLOCK) - release_time(b) for b in range(h, seg.end)]
    # a fork of block B rides WAL position B + reorg_lag (seq intra 8..13)
    reorg_fresh, fork_commits = [], {}
    truth = WalTruth.of(wal)
    for b in seg.reorg_blocks:
        pos = b + REORG_LAG
        c = commit_of(pos * SEQ_PER_BLOCK + 8)
        reorg_fresh.append(c - release_time(pos))
        fork_commits[b] = (truth.fork_hash[b], c)
    events = sum(int(e["n_events"]) for e in entries)

    errors = []
    if wm != final_seq:
        errors.append(f"final watermark {wm} != released head {final_seq}")
    errors += check_warehouse(streamer, truth)
    errors += check_reads(reader, fork_commits, seg.end - 1)
    if not corruption_is_caught(streamer, truth):
        errors.append("self-test: an orphan-hash block row went undetected")
    attempted = len(entries) + cycles_failed + len(reader.lat) + reader.failed
    failed = cycles_failed + reader.failed

    detail = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "input": {"segment": seg.index, "first_block": seg.base, **fp},
        "setup_phases_s": {k: round(v, 3) for k, v in setup.items()},
        "measured_s": round(t_end - t0, 3), "cycles": len(entries),
        "samples": {
            "freshness": len(fresh), "reorg_freshness": len(reorg_fresh),
            "reads": len(reader.lat),
        },
        "read_retries": reader.retries,
        "errors": errors,
    }
    e2e = {
        "setup_s": (setup_s, "s"),
        "events_per_s": (events / (t_end - t0), "1/s"),
        "freshness_s_p50": (pct(fresh, 50), "s"),
        "freshness_s_p90": (pct(fresh, 90), "s"),
        "reorg_freshness_s_p50": (statistics.median(reorg_fresh), "s"),
        "read_s_p50": (pct(reader.lat, 50), "s"),
        "read_s_p90": (pct(reader.lat, 90), "s"),
    }
    metrics = e2e
    if trace:
        layer.update(spark_counters(spark, t0, t_end, len(entries), cpus, run_dir, stderr_log))
        tracer.dump(os.path.join(run_dir, "spans.jsonl"))
        metrics = layer
        # compared against an untraced run by perfbench/overhead.py
        detail["end_to_end_traced"] = {k: v for k, (v, _u) in e2e.items()}
    shutdown(spark)
    if trace:  # keep the spans, event log and stderr for inspection
        for d in ("warehouse", "spark-local", "tmp"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    else:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail), flush=True)
    return {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def lake_live(streamer) -> tuple[int, int]:
    files = nbytes = 0
    for t in streamer.tables.values():
        for f in t.manifest().files:
            files += 1
            try:
                nbytes += os.path.getsize(os.path.join(t.root, f.path))
            except OSError:
                pass
    return files, nbytes


def per_layer(spark, streamer, tracer, reader, entries, t0, live0) -> dict:
    """Per-layer numbers of the measured phase, taken before the checks
    (which read the lake again)."""
    m: dict[str, tuple] = {}
    heads = tracer.named("sources.head", t0)
    reads_rr = tracer.named("sources.read_range", t0)
    m["sources.head_s"] = (sum(s.end - s.start for s in heads), "s")
    m["sources.read_range_calls"] = (len(reads_rr), "count")
    m["sources.input_lag_blocks_p50"] = (pct(tracer.input_lag_blocks, 50), "blocks")
    m["streaming.cycle_s_p50"] = (pct([s.end - s.start for s in tracer.cycles], 50), "s")
    m["streaming.prefetch_useful_ratio"] = (len(entries) / max(len(reads_rr), 1), "ratio")
    for phase in ("stats", "plan", "merges", "reorg_fix"):
        m[f"streaming.{phase}_s"] = (sum(e["phase_secs"].get(phase, 0.0) for e in entries), "s")
    for table in MERGE_TABLES:
        m[f"streaming.merge_s.{table}"] = (
            sum(e["merge_secs"].get(table, 0.0) for e in entries), "s")
    merges = tracer.named("lake.merge_upsert", t0)
    m["lake.merge_upsert_calls"] = (len(merges), "count")
    m["lake.merge_upsert_s"] = (sum(s.end - s.start for s in merges), "s")
    m["lake.commits"] = (tracer.lake.commits, "count")
    m["lake.compactions"] = (tracer.lake.compactions, "count")
    m["lake.files_written"] = (tracer.lake.files, "count")
    m["lake.bytes_written"] = (tracer.lake.bytes, "bytes")
    files_live, bytes_live = lake_live(streamer)
    m["lake.files_live"] = (files_live, "count")
    m["lake.bytes_live"] = (bytes_live, "bytes")
    m["lake.write_amplification"] = (
        tracer.lake.bytes / max(bytes_live - live0[1], 1), "ratio")
    m["lake.files_per_read"] = (statistics.mean(reader.input_files or [0]), "count")
    m["lake.read_retries"] = (reader.retries, "count")
    self_s = tracer.self_time_by_layer(t0)
    for layer in ("sources", "streaming", "lake"):
        m[f"{layer}.self_s"] = (self_s.get(layer, 0.0), "s")
    jsc = spark.sparkContext._jsc.sc()
    m["spark.cached_bytes_end"] = (
        sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo()), "bytes")
    return m


def spark_counters(spark, t0, t_end, n_cycles, cpus, run_dir, stderr_log) -> dict:
    """spark.* from the event log (flushed by stopping the context) over the
    measured phase, and the codegen fallbacks the Spark driver logged."""
    from perfbench.spans import count_codegen_fallbacks, parse_event_log

    spark.sparkContext.stop()
    ev = parse_event_log(os.path.join(run_dir, "eventlog"), t0, t_end)
    return {
        "spark.jobs": (ev.jobs, "count"),
        "spark.jobs_per_cycle": (ev.jobs / max(n_cycles, 1), "count"),
        "spark.tasks": (ev.tasks, "count"),
        "spark.task_busy_ratio": (ev.executor_run_s / ((t_end - t0) * cpus), "ratio"),
        "spark.shuffle_write_bytes": (ev.shuffle_write_bytes, "bytes"),
        "spark.spill_bytes": (ev.spill_bytes, "bytes"),
        "spark.gc_s": (ev.gc_s, "s"),
        "spark.codegen_fallbacks": (count_codegen_fallbacks(stderr_log), "count"),
    }


def shutdown(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    res = run(args)
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
