"""The two workloads. Each is one closed-loop client in this process
against Spark ``local[nproc]``; each returns the raw measurements its
caller turns into metrics.

index    the event indexer: ``streaming.scan.start_index_stream`` (one
         block-aligned extract file per micro-batch) starts over a
         5,000-log backlog and catches it up; then one client lands a
         small tail file, waits until the serving layer shows it, and
         reads the events/entries tables closed-loop.
curate   repeated ``operators.corpus.curate_pipeline`` passes over a
         seeded corpus; every hypermap layer is idle.
"""

from __future__ import annotations

import inspect
import math
import os
import random
import statistics
import sys
import threading
import time

from perfbench import check, gen

# sizing (see perfbench/README.md for the measurements behind them)
INDEX_BACKLOG_LOGS = 5000  # one backlog file: the standing table, one cold batch
INDEX_TAIL_LOGS = (20, 200)
INDEX_TAIL_EST_S = 8.5  # the tail batch
INDEX_ROUND_EST_S = 3.5  # one round of the six reads
CURATE_DOCS = 2500
CURATE_PASS_EST_S = 30.0  # one timed pass per 30 s, at least one (see README: sizing)
CURATE_WARM_PASSES = 1
BLOCKS_PER_FILE = 5000
MTIME0 = 1_700_000_000.0

# the six serving calls; a read round issues each once, in a seeded
# order. No source gives the real read mix, so it is assumed uniform.
REQUESTS = ("status", "events", "events_deep", "count", "history", "entry")


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q / 100.0 * len(s)) - 1))]


def parquet_files(path: str) -> dict[str, int]:
    """{relative path: bytes} of every data file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


class IndexHooks:
    """Progress bookkeeping for ``start_index_stream`` plus, when traced,
    spans around decode, merge, materialize and compaction; a batch span
    runs from the batch's decode call to its progress callback."""

    def __init__(self, tracer, table: str, entries: str):
        self.tracer = tracer
        self.progress: list[tuple[float, dict]] = []
        self.cond = threading.Condition()
        self.t_first_batch = None
        self._batch = threading.local()
        if not tracer.enabled:
            return
        from hypermap_etl_spark.operators import materialize, merge
        from hypermap_etl_spark.streaming import scan

        decode = scan.parse_raw_logs

        def parse_raw_logs(*a, **kw):
            if self.t_first_batch is None:
                self.t_first_batch = time.perf_counter()
            tracer.trace_id = f"batch-{len(self.progress)}"
            self._batch.span = tracer.open("scan.batch")
            sp = tracer.open("decode", count_jobs=False)
            try:
                return decode(*a, **kw)
            finally:
                tracer.close(sp)

        tracer.patch(scan, "parse_raw_logs", parse_raw_logs)

        self._wrap_writer(scan, "merge_into_parquet", "merge", table)
        for attr in ("incremental_entries_delta", "incremental_entries_update"):
            self._wrap_writer(materialize, attr, "materialize", entries)
        tracer.wrap(merge, "compact_small_table", "compact")
        tracer.wrap(merge, "compact_partitions", "compact")

    def _wrap_writer(self, module, attr: str, name: str, table: str) -> None:
        """Span around a call that writes ``table`` and returns the merge
        report; records the parquet files it added (count, bytes,
        partition dirs) and the rows it upserted and modified. The two
        table listings are tracer overhead: their time is kept on the
        enclosing batch span (``tracer_ms``) and left out of its
        duration."""
        tracer, fn = self.tracer, getattr(module, attr)

        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            before = parquet_files(table)
            listed = time.perf_counter() - t0
            sp = tracer.open(name)
            try:
                res = fn(*a, **kw)
            finally:
                tracer.close(sp)
            t0 = time.perf_counter()
            new = {k: v for k, v in parquet_files(table).items() if k not in before}
            sp.attrs.update(
                files_written=len(new),
                bytes_written=sum(new.values()),
                partitions_touched=len({os.path.dirname(k) for k in new}),
                upserted=res["upsertedCount"],
                modified=res["modifiedCount"],
            )
            listed += time.perf_counter() - t0
            tracer.overhead_s += listed
            batch = getattr(self._batch, "span", None)
            if batch is not None:
                batch.attrs["tracer_ms"] = batch.attrs.get("tracer_ms", 0.0) + listed * 1000
            return res

        tracer.patch(module, attr, wrapper)

    def on_progress(self, p: dict) -> None:
        sp = getattr(self._batch, "span", None)
        if sp is not None:
            self.tracer.close(sp)
            self._batch.span = None
        with self.cond:
            self.progress.append((time.perf_counter(), p))
            self.cond.notify_all()

    def wait_batches(self, n: int, timeout: float) -> None:
        with self.cond:
            if not self.cond.wait_for(lambda: len(self.progress) >= n, timeout):
                raise TimeoutError(f"index stream: {len(self.progress)} of {n} batches after {timeout} s")

    def strategies(self) -> set:
        return {(p["entries_strategy"], p["delta_fallback_at"]) for _t, p in self.progress}


def start_stream(spark, d: dict, hooks: IndexHooks, trigger: dict):
    from hypermap_etl_spark.streaming.scan import start_index_stream

    return start_index_stream(
        spark, d["src"], d["events"], d["entries"], d["ckpt"],
        trigger=trigger, max_files_per_trigger=1, on_progress=hooks.on_progress,
    )


def table_bytes(d: dict) -> tuple[int, int, int, int]:
    ev, en = parquet_files(d["events"]), parquet_files(d["entries"])
    return len(ev), sum(ev.values()), len(en), sum(en.values())


def _dirs(work: str) -> dict:
    return {k: os.path.join(work, k) for k in ("src", "events", "entries", "ckpt", "staging")}


def _delta_guard(hooks: IndexHooks) -> list[str]:
    """The stream must run the delta strategy in every batch: a silent
    fall-back to replay would make the run bimodal."""
    s = hooks.strategies()
    return [] if s == {("delta", None)} else [f"entries strategy was {sorted(map(str, s))}, expected delta throughout"]


# ----------------------------------------------------------------- index ----

def index_inputs(work: str, seed: int, seconds: int, smoke: bool) -> dict:
    """The backlog (in the source from the start), then the tail file,
    waiting in a staging dir with its final mtime until the client lands
    it (rename)."""
    d = _dirs(work)
    hist = gen.History(seed)
    backlog = gen.write_history(
        hist, d["src"], 1, 100 if smoke else INDEX_BACKLOG_LOGS, BLOCKS_PER_FILE, MTIME0
    )
    rng = random.Random(seed)
    t_rows = gen.write_history(
        hist, d["staging"], 1, rng.randint(*INDEX_TAIL_LOGS), 200, MTIME0 + 1, name="tail"
    )
    gen.write_truth(os.path.join(work, "truth.parquet"), backlog + t_rows)
    d.update(
        tail=("tail-00000.parquet", max(r["blockNumber"] for r in t_rows)),
        backlog_events=len(backlog),
        rounds=1 if smoke else max(2, round((seconds - INDEX_TAIL_EST_S) / INDEX_ROUND_EST_S)),
        truth=os.path.join(work, "truth.parquet"), offered=hist.offered,
        mints=[r["childhash"] for r in backlog if r["eventType"] == "Mint"],
        digest=gen.digest(d["src"]) + gen.digest(d["staging"]),
    )
    return d


class Reader:
    """The closed-loop client's requests: rounds of the six serving
    calls, each round in a seeded order, entry keys drawn Zipf-skewed
    (old entries hot) from the minted entries of the standing table."""

    def __init__(self, spark, d: dict, seed: int):
        self.spark, self.d = spark, d
        self.rng = random.Random(seed * 7919 + 1)
        self.keys = d["mints"]
        self.i = 0

    def _key(self) -> str:
        n = len(self.keys)
        r = int(math.exp(self.rng.random() * math.log(n + 1))) - 1
        return self.keys[min(max(r, 0), n - 1)]

    def round(self) -> list[tuple[str, object]]:
        kinds = list(REQUESTS)
        self.rng.shuffle(kinds)
        return [self.request(k) for k in kinds]

    def request(self, kind: str) -> tuple[str, object]:
        self.i += 1
        if kind == "events":
            return kind, self.rng.choice(["Note", "Transfer", "Mint", "Fact"])
        if kind == "events_deep":
            return kind, 10 + self.rng.randrange(20)
        if kind == "count":
            return kind, self.rng.choice(["Note", "Transfer", "Mint", "Gene", None])
        if kind in ("history", "entry"):
            return kind, self._key()
        return kind, None

    def read(self, kind: str, arg):
        """One request against a fresh listing of the tables, its result
        consumed."""
        from hypermap_etl_spark.plans import serving

        events = self.spark.read.parquet(self.d["events"])
        if kind == "status":
            return serving.get_status(events)
        if kind == "events":
            return serving.get_events(events, arg, page=1).collect()
        if kind == "events_deep":
            return serving.get_events(events, None, page=arg).collect()
        if kind == "count":
            return serving.count_events(events, arg)
        if kind == "history":
            return serving.get_events_for_entry(events, arg).collect()
        return serving.get_entry(self.spark.read.parquet(self.d["entries"]), arg).collect()


def land(d: dict, name: str) -> None:
    os.replace(os.path.join(d["staging"], name), os.path.join(d["src"], name))


def index(bench, d: dict, seed: int) -> dict:
    """Set-up starts the index stream over a 5,000-log backlog — the
    catch-up of a freshly started indexer, one cold micro-batch that
    becomes the standing table — and makes one call of each read kind.
    Then, timed: a tail file landed, the client waiting until
    ``get_status`` reports its last block (freshness), then rounds of the
    six reads on the table as it stands.

    The client never reads while a batch writes: the serving path reads
    table files in place, and a read that overlaps a merge rewriting its
    partition fails (see README)."""
    spark, tracer = bench.spark, bench.tracer
    from hypermap_etl_spark.plans import serving

    hooks = IndexHooks(tracer, d["events"], d["entries"])
    t0 = time.perf_counter()
    q = start_stream(spark, d, hooks, {"processingTime": "0 seconds"})
    t_started = time.perf_counter()
    hooks.wait_batches(1, 170)  # the backlog: catch-up with the serving layer idle
    catchup_s = hooks.progress[0][0] - t0
    reader = Reader(spark, d, seed)
    for kind in REQUESTS:  # first calls of each kind are 2-5x slower
        reader.read(*reader.request(kind))
    bench.setup_done()

    failed = 0
    name, last_block = d["tail"]
    t_land = time.perf_counter()
    land(d, name)
    hooks.wait_batches(2, 150)
    with tracer.span("serving.read_after_write"):
        st = serving.get_status(spark.read.parquet(d["events"]))
    fresh_ms = (time.perf_counter() - t_land) * 1000
    if st["lastBlock"] != last_block:
        failed += 1
        print(f"{name}: status shows block {st['lastBlock']}, expected {last_block}", file=sys.stderr)

    lat = {k: [] for k in REQUESTS}
    spans, responses = [], []
    for _ in range(d["rounds"]):
        for kind, arg in reader.round():
            tracer.trace_id = f"req-{reader.i}"
            sp = tracer.open(f"serving.{kind}")
            t = time.perf_counter()
            try:
                responses.append((kind, arg, reader.read(kind, arg)))
            except Exception as e:  # counted, and reported on stderr
                failed += 1
                print(f"read {kind}({arg}) failed: {e!r}", file=sys.stderr)
            lat[kind].append((time.perf_counter() - t) * 1000)
            tracer.close(sp)
            spans.append(sp)

    q.processAllAvailable()
    q.stop()

    problems = _delta_guard(hooks)
    if failed:
        problems.append(f"{failed} serving operations failed")
    problems += check.events_match_truth(d["events"], d["truth"])
    problems += check.entries_match_fold(spark, d["events"], d["entries"])
    problems += check.serving_responses(d["events"], d["entries"], responses)

    reads = [x for v in lat.values() for x in v]
    _nev, ev_bytes, _nen, en_bytes = table_bytes(d)
    out = {
        "attempted": len(reads) + 2, "failed": failed,  # reads, backlog, tail
        "problems": problems,
        "op_ms": reads,
        "items_per_s": d["backlog_events"] / catchup_s,
        "fresh_ms": fresh_ms,
        "bytes_per_item": (ev_bytes + en_bytes) / sum(p["rows"] for _t, p in hooks.progress),
    }
    if tracer.enabled:
        layers = index_layers(tracer, hooks, d, t0, t_started)
        jobs, tasks = tracer.jobs_of(spans)
        layers.update({f"serving.{k}_ms_p50": p50(v) for k, v in lat.items()})
        layers.update({
            "serving.read_after_write_ms_p50": p50([s.ms for s in tracer.named("serving.read_after_write")]),
            "serving.jobs_per_read": p50(jobs),
            "serving.tasks_per_read": p50(tasks),
            "serving.reads": len(reads),
            "serving.read_p90_ms": pct(reads, 90),
        })
        out["layers"] = layers
    return out


def index_layers(tracer, hooks: IndexHooks, d: dict, t0: float, t_started: float) -> dict:
    """Per-layer metrics of the index path from the traced run: two
    batches, the cold backlog and the tail. Per-call figures are the
    tail's; ratios count both."""
    backlog, tail = tracer.named("scan.batch")
    merges, mats = tracer.named("merge"), tracer.named("materialize")
    b_jobs, _ = tracer.jobs_of([tail])
    m_jobs, m_tasks = tracer.jobs_of(merges[-1:])
    x_jobs, x_tasks = tracer.jobs_of(mats[-1:])
    child = {"merge", "materialize"}

    def batch_ms(b):  # without the tracer's own table listings
        return b.ms - b.attrs.get("tracer_ms", 0.0)

    upserted = sum(s.attrs["upserted"] for s in merges)
    n_ev_files, ev_bytes, n_en_files, en_bytes = table_bytes(d)
    compacts = tracer.named("compact")
    return {
        "scan.backlog_batch_ms": batch_ms(backlog),
        "scan.tail_batch_ms": batch_ms(tail),
        "scan.tail_self_ms": batch_ms(tail) - sum(c.ms for c in tail.children if c.name in child),
        "scan.start_ms": ((hooks.t_first_batch or t_started) - t0) * 1000,
        "scan.jobs_per_batch": b_jobs[0],
        "scan.keyidx_files": len(parquet_files(d["entries"] + "__keyidx")),
        "decode.plan_ms": tracer.named("decode")[-1].ms,
        "merge.backlog_ms": merges[0].ms,
        "merge.tail_ms": merges[-1].ms,
        "merge.jobs_per_call": m_jobs[0],
        "merge.tasks_per_call": m_tasks[0],
        "merge.files_written_per_call": merges[-1].attrs["files_written"],
        "merge.partitions_touched_per_call": merges[-1].attrs["partitions_touched"],
        "merge.bytes_written_per_event": sum(s.attrs["bytes_written"] for s in merges) / max(upserted, 1),
        "merge.upsert_ratio": upserted / max(sum(d["offered"]), 1),
        "compact.calls": len(compacts),
        "compact.ms": sum(s.ms for s in compacts),
        "materialize.backlog_ms": mats[0].ms,
        "materialize.tail_ms": mats[-1].ms,
        "materialize.jobs_per_call": x_jobs[0],
        "materialize.tasks_per_call": x_tasks[0],
        "materialize.files_written_per_call": mats[-1].attrs["files_written"],
        "materialize.rows_per_call": mats[-1].attrs["upserted"] + mats[-1].attrs["modified"],
        "events.files": n_ev_files, "events.bytes": ev_bytes,
        "entries.files": n_en_files, "entries.bytes": en_bytes,
    }


# ---------------------------------------------------------------- curate ----

def curate_inputs(work: str, seed: int, seconds: int, smoke: bool) -> dict:
    os.makedirs(work, exist_ok=True)
    path = os.path.join(work, "docs.parquet")
    info = gen.write_documents(path, seed, 100 if smoke else CURATE_DOCS)
    return {"docs": path, "n_docs": info["docs"], "out": os.path.join(work, "out"),
            "passes": 1 if smoke else max(1, round(seconds / CURATE_PASS_EST_S)),
            "warm_passes": 1 if smoke else CURATE_WARM_PASSES,
            "digest": gen.digest(path)}


def _corpus_hooks(tracer) -> None:
    """Spans around every stage_boundary and every function of the
    dedup, curation and textstats modules (also where corpus imported
    one by name)."""
    from hypermap_etl_spark import util
    from hypermap_etl_spark.operators import corpus, curation, dedup, textstats

    tracer.wrap(util, "stage_boundary", "corpus.boundary")
    for mod, tag in ((dedup, "dedup"), (curation, "curation"), (textstats, "textstats")):
        for name, fn in list(vars(mod).items()):
            if not inspect.isfunction(fn) or fn.__module__ != mod.__name__ or name.startswith("__"):
                continue
            for ns in (mod, corpus):
                if getattr(ns, name, None) is fn:
                    tracer.wrap(ns, name, f"{tag}.call", count_jobs=False)


def curate_pass(bench, d: dict, i: int) -> str:
    from hypermap_etl_spark.operators.corpus import curate_pipeline
    from hypermap_etl_spark.util import release_persisted

    spark, tracer = bench.spark, bench.tracer
    out = os.path.join(d["out"], f"pass{i}")
    tracer.trace_id = f"pass-{i}"
    sp = tracer.open("corpus.pass")
    try:
        documents, chunks, _ = curate_pipeline(spark.read.parquet(d["docs"]), with_report=False)
        documents.write.mode("overwrite").parquet(os.path.join(out, "documents"))
        chunks.write.mode("overwrite").parquet(os.path.join(out, "chunks"))
    finally:
        release_persisted()
        tracer.close(sp)
    return out


def curate(bench, d: dict) -> dict:
    tracer = bench.tracer
    if tracer.enabled:
        _corpus_hooks(tracer)
    # warm-up passes (JIT and codegen), inside setup_s
    outs = [curate_pass(bench, d, i) for i in range(d["warm_passes"])]
    bench.setup_done()
    times = []
    t_start = time.perf_counter()
    for _ in range(d["passes"]):
        t = time.perf_counter()
        outs.append(curate_pass(bench, d, len(outs)))
        times.append(time.perf_counter() - t)
    window = time.perf_counter() - t_start

    problems, digests = [], set()
    for o in outs:
        dd, n_docs = check.output_digest(os.path.join(o, "documents"), ["doc_id"])
        dc, n_chunks = check.output_digest(os.path.join(o, "chunks"), ["doc_id", "chunk_id"])
        digests.add((dd, dc))
    if len(digests) != 1:
        problems.append(f"curate outputs differ across {len(outs)} passes")
    if not (0 < n_docs < d["n_docs"]) or n_chunks == 0:
        problems.append(f"curate kept {n_docs} of {d['n_docs']} docs, {n_chunks} chunks")
    out_bytes = sum(parquet_files(outs[-1]).values())
    out = {
        "attempted": len(times), "failed": 0, "problems": problems,
        "op_ms": [t * 1000 for t in times],
        "items_per_s": d["n_docs"] * len(times) / window,
        "fresh_ms": p50(times) * 1000,
        "bytes_per_item": out_bytes / d["n_docs"],
    }
    if tracer.enabled:
        passes = tracer.named("corpus.pass")[d["warm_passes"]:]
        jobs, tasks = tracer.jobs_of(passes)

        def inside(name):
            # per timed pass: total self time of spans called ``name``
            return p50([sum(s.self_ms for s in _descendants(p) if s.name == name) for p in passes])

        bounds = [[s for s in _descendants(p) if s.name == "corpus.boundary"] for p in passes]
        boundary_ms = p50([sum(s.ms for s in b) for b in bounds])
        out["layers"] = {
            "corpus.ms": p50([p.ms for p in passes]),
            "corpus.jobs": p50(jobs),
            "corpus.tasks": p50(tasks),
            "corpus.boundaries": p50([len(b) for b in bounds]),
            "corpus.boundary_ms": boundary_ms,
            "corpus.plan_ms": p50([p.ms for p in passes]) - boundary_ms,
            "corpus.kept_ratio": n_docs / d["n_docs"],
            "corpus.chunks_per_doc": n_chunks / max(n_docs, 1),
            "dedup.plan_ms": inside("dedup.call"),
            "curation.plan_ms": inside("curation.call"),
            "textstats.plan_ms": inside("textstats.call"),
        }
    return out


def _descendants(sp):
    for c in sp.children:
        yield c
        yield from _descendants(c)
