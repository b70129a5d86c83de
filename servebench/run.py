"""Service-path benchmark: one closed-loop client driving ``SearchService``.

    python3 servebench/run.py --workload serve_read --seed 1 --seconds 20 --trace 0

Workloads (why each exists and what it loads: NOTES.md):

- ``serve_read``: a 6k-document collection preloaded with one
  ``ingest_into`` call; default service (scan search path). A search
  phase of ~90% ``similarity_search`` and ~10% metadata reads fills
  ~70% of the run, then two write rounds (a single ingest, a sync
  50-document batch, a delete) run on the same collection.
- ``serve_write``: a fresh 200-document collection with
  ``maintain_fts_index=True``; cycles of single ingest, 50-document
  batch (every second async), delete, each followed by a
  read-your-write probe, plus one ranked search per cycle.

Every op's answer is checked outside the timed region (reference.py);
a wrong answer counts as a failed op. ``setup_s`` is session start plus
the collection set-up (create + preload) plus the untimed warm-up ops
that absorb first-call costs before the timed ops of the same kind.

With ``--trace 1`` every other op of each kind runs traced: spans around
the program's layers plus Spark status-store counters read after the op
(probes.py). The result then carries the per-layer metrics, including
``trace.<op>.overhead_ms`` (traced minus untraced median), and the spans
are written to ``.servebench_work/traces/``.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; stderr lists every metric with
its unit and sample count. The exit status is 1 when any output check
failed.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# a checkout without the package fails here, before printing a result
from pyspark import SparkContext  # noqa: E402

from servebench.corpus import corpus, read_blocks, read_tails, write_cycles  # noqa: E402
from servebench.probes import (  # noqa: E402
    StatusReader,
    Tracer,
    descendants,
    peak_rss_bytes,
    span_self,
)
from servebench.reference import (  # noqa: E402
    highest_percentile,
    median,
    percentile,
    read_store,
)
from vector_search_service_spark import ingest, service  # noqa: E402
from vector_search_service_spark.catalog import Catalog  # noqa: E402
from vector_search_service_spark.operators.fts_index import PostingsStore  # noqa: E402
from vector_search_service_spark.service import SearchService  # noqa: E402
from vector_search_service_spark.session import get_spark  # noqa: E402

WORKLOADS = ("serve_read", "serve_write")
COLLECTION = "bench"
READ_DOCS = 6_000  # a scan search costs ~2x the per-call floor
WRITE_DOCS = 200
WARMUP_SEED = 1_000_003  # warm-up ops use other tokens than the run's
# first calls of these pay one-off costs (Python worker start-up for the
# ingest UDFs, which a batch shares; JIT of the delete plan)
WARMUP_KINDS = ("ingest_doc", "delete")
SEARCH_SHARE = 0.7  # serve_read: share of the run given to the search phase
# a slow host must not drop a run to one round: that changes the mix
MIN_ROUNDS = 2
LIST_PAGE = 20
TERMINAL = ("completed", "failed", "cancelled")
# op kinds that carry Spark / Python-worker layer counters; searches
# and metadata reads run no Python UDF, so they get no python.* metrics
SPARK_KINDS = ("search", "meta", "ingest_doc", "batch", "delete", "preload")
PYTHON_KINDS = ("ingest_doc", "batch", "preload")
SPARK_COUNTERS = (("jobs", "count"), ("tasks", "count"), ("driver_gap_ms", "ms"),
                  ("executor_run_ms", "ms"), ("core_util", "ratio"),
                  ("input_bytes", "B"), ("shuffle_bytes", "B"))
PYTHON_COUNTERS = (("start_ms", "ms"), ("init_ms", "ms"), ("run_ms", "ms"),
                   ("bytes_sent", "B"))
TIMED_KINDS = ("search", "meta", "ingest_doc", "batch", "delete")
WRITE_KINDS = ("ingest_doc", "batch", "delete")


def pin_settings(work: str) -> tuple[dict, dict]:
    """Environment and Spark conf every run uses; all scratch I/O stays
    under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal")) // 1024
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE": str(cpus),
        "SPARK_GRAFT_MASTER": f"local[{cpus}]",
        # get_spark's default (48g) is sized for a large host
        "SPARK_GRAFT_DRIVER_MEM": f"{min(2048, total_mb // 4)}m",
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # the launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return env, conf


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.tracer = Tracer()
        self.reader = None
        self.ops: list[dict] = []
        self.kind_count: dict[str, int] = {}
        self.phase = "setup"
        self.live: dict[str, tuple[int, dict]] = {}  # token -> (input bytes, op)
        self.deleted: dict[str, dict] = {}  # token -> delete op
        self.live_bytes = 0
        self.tally = 0  # chunks the collection should hold
        self._snap = None
        self.spark = None
        self.warmup_s = 0.0

    # -- running one op ------------------------------------------------------

    def step(self, kind: str, fn) -> tuple[dict, object]:
        """Run ``fn(extra_groups)`` as one closed-loop op under its own
        Spark job group; returns (op record, result or None)."""
        n = len(self.ops)
        traced = self.trace
        if self.phase == "run":  # timed ops alternate: traced, untraced, ...
            k = self.kind_count.get(kind, 0)
            self.kind_count[kind] = k + 1
            traced = self.trace and k % 2 == 0
        group = f"servebench-{n}"
        extra: list[str] = []
        if kind in WRITE_KINDS and self.phase != "setup":
            # settle garbage (and the ContextCleaner work it triggers,
            # e.g. dropping checkpointed batches) before a write rather
            # than inside it
            gc.collect()
            self.sc._jvm.System.gc()
        self.sc.setJobGroup(group, kind)
        self.tracer.op = n if traced else None
        w0, t0 = time.time(), time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                result, error = fn(extra), None
        except Exception as e:  # noqa: BLE001 - an op that raises is a failed op
            result, error = None, f"{type(e).__name__}: {e}"
        ms = (time.perf_counter() - t0) * 1e3
        w1 = time.time()
        self.tracer.op = None
        self.sc.setJobGroup("servebench-check", "output checks")
        rec = {"n": n, "kind": kind, "phase": self.phase, "ms": ms,
               "traced": traced, "failed": None}
        if traced:
            rec.update(self.reader.read([group, *extra], w0, w1))
        self.ops.append(rec)
        if error:
            self.fail(rec, error)
        return rec, result

    def fail(self, rec: dict, why: str) -> None:
        if rec["failed"] is None:
            rec["failed"] = why
            print(f"# FAILED op {rec['n']} ({rec['kind']}): {why}", file=sys.stderr)

    # -- session and set-up ----------------------------------------------------

    def start(self, conf: dict) -> None:
        t0 = time.perf_counter()
        self.spark = get_spark("servebench", extra_conf=conf)
        self.spark.range(1).count()
        self.sc = self.spark.sparkContext
        self.session_s = time.perf_counter() - t0
        if self.trace:
            self.reader = StatusReader(self.spark)
            t = self.tracer
            t.patch(service, "fts_search", "search.fts_search")
            t.patch(service, "ingest_into", "ingest.ingest_into")
            t.patch(ingest, "ingest_into", "ingest.ingest_into")
            for name in ("get_collection", "add_documents", "delete_documents",
                         "collection_stats"):
                t.patch(Catalog, name, f"catalog.{name}")
            for name in ("append", "matched_ids", "maybe_compact", "rewrite",
                         "compact_incremental"):
                t.patch(PostingsStore, name, f"fts_index.{name}")

    def _service(self, root: str):
        return SearchService(self.spark, root,
                             maintain_fts_index=self.workload == "serve_write")

    def _preload(self, svc, rows: list[dict]) -> int:
        svc.create_collection(COLLECTION)
        raw = self.spark.createDataFrame(
            [(r["text"], r["lang"], r["source"]) for r in rows],
            "text string, lang string, source string")
        return ingest.ingest_into(svc.catalog, COLLECTION, raw,
                                  metadata_cols=("lang", "source"))["chunks_created"]

    def setup(self) -> None:
        """A fresh collection, created and preloaded."""
        n_docs = READ_DOCS if self.workload == "serve_read" else WRITE_DOCS
        rows = corpus(self.seed, n_docs)
        self.root = os.path.join(self.work, "catalog")
        t0 = time.perf_counter()
        svc = self._service(self.root)
        rec, chunks = self.step("preload", lambda _extra: self._preload(svc, rows))
        self.setup_s = time.perf_counter() - t0
        if chunks != n_docs:
            self.fail(rec, f"preload stored {chunks} chunks, expected {n_docs}")
        self.svc = svc
        self.cid = svc.catalog.get_collection(COLLECTION)["id"]
        self.live_bytes = sum(len(r["text"].encode()) for r in rows)
        self._snap = None
        self.tally = n_docs

    def warm_up(self, ops: list[dict]) -> None:
        """Untimed ops, on other tokens than the run's, so the run does
        not time first calls (Python workers, JIT); their wall counts
        into ``setup_s``."""
        t0 = time.perf_counter()
        self.phase = "warmup"
        for op in ops:
            self.do(op)
        self.phase = "run"
        self.warmup_s += time.perf_counter() - t0

    # -- output checks (never inside the timed region) ------------------------

    def snapshot(self):
        if self._snap is None:
            self._snap = read_store(self.root, self.cid)
        return self._snap

    def check_stats(self, rec: dict) -> None:
        got = self.svc.collection_stats(COLLECTION)["document_count"]
        if got != self.tally:
            self.fail(rec, f"collection_stats says {got} chunks, the running tally is {self.tally}")

    def check_search(self, rec: dict, res: dict | None, query: str, limit: int,
                     flt: dict | None, expect_hits: int | None = None) -> None:
        if res is None:
            return
        got = [(r["document_id"], r["score"]) for r in res["results"]]
        want = self.snapshot().search(query, limit, flt)
        if got != want:
            self.fail(rec, f"search {query!r} limit={limit} filter={flt}: "
                           f"{len(got)} results differ from the reference's {len(want)}")
        elif expect_hits is not None and len(got) != expect_hits:
            self.fail(rec, f"probe {query!r} found {len(got)} documents, expected {expect_hits}")

    def check_store(self) -> None:
        """Every live token is stored exactly once, every deleted one is
        gone, and the store holds the tallied chunk count."""
        self._snap = None
        snap = self.snapshot()
        for token, (_b, rec) in self.live.items():
            if snap.token_hits(token) != 1:
                self.fail(rec, f"token {token} stored {snap.token_hits(token)} times")
        for token, rec in self.deleted.items():
            if snap.token_hits(token):
                self.fail(rec, f"deleted token {token} is still stored")
        if len(snap.docs) != self.tally:
            self.fail(self.ops[-1], f"store holds {len(snap.docs)} chunks, tally is {self.tally}")

    # -- ops -------------------------------------------------------------------

    def search(self, op: dict, expect_hits: int | None = None) -> None:
        rec, res = self.step("search", lambda _extra: self.svc.similarity_search(
            op["query"], collection_id=COLLECTION, limit=op["limit"],
            metadata_filter=op["filter"]))
        self.check_search(rec, res, op["query"], op["limit"], op["filter"], expect_hits)

    def meta(self, op: dict) -> None:
        svc, what = self.svc, op["what"]
        if what == "stats":
            rec, res = self.step("meta", lambda _e: svc.collection_stats(COLLECTION))
            got = res and res["document_count"]
        elif what == "info":
            rec, res = self.step("meta", lambda _e: svc.get_collection_info(COLLECTION))
            got = res and res["document_count"]
        else:
            rec, res = self.step("meta", lambda _e: svc.list_documents(
                COLLECTION, limit=LIST_PAGE, after=op["after"]))
            got = res and [d["id"] for d in res]
        if what == "list":
            want = [i for i in self.snapshot().ids if i > op["after"]][:LIST_PAGE]
        else:
            want = self.tally
        if res is not None and got != want:
            self.fail(rec, f"{what}: got {got if what != 'list' else len(got)}, "
                           f"expected {want if what != 'list' else len(want)}")

    def ingest_doc(self, op: dict) -> None:
        rec, res = self.step("ingest_doc", lambda _e: self.svc.ingest_document(
            op["content"], collection_id=COLLECTION, metadata=op["metadata"]))
        self._snap = None
        if res is None:
            return
        if res["status"] != "completed" or res["chunks_created"] != 1:
            self.fail(rec, f"ingest_document returned {res}")
            return
        self.live[op["token"]] = (len(op["content"].encode()), rec)
        self.live_bytes += len(op["content"].encode())
        self.tally += 1
        self.check_stats(rec)

    def batch(self, op: dict) -> None:
        svc = self.svc
        docs = [{"content": d["content"], "metadata": d["metadata"]} for d in op["docs"]]

        def run(extra):
            res = svc.batch_ingest(docs, collection_id=COLLECTION,
                                   processing_mode=op["mode"])
            if op["mode"] == "async":
                extra.append(res["job_id"])
                while svc.job_status(res["job_id"])["status"] not in TERMINAL:
                    time.sleep(0.005)
            return res

        rec, res = self.step("batch", run)
        self._snap = None
        if res is None:
            return
        # the sync response reads "completed" even when the job failed,
        # so the outcome is taken from the newest job instead
        job = svc.jobs.list_jobs(limit=1)[0]
        if job.status.value != "completed" or job.successful_documents != len(docs):
            self.fail(rec, f"batch job {job.status.value}: {job.successful_documents}"
                           f"/{len(docs)} documents ({job.error})")
            return
        rec["queue_wait_ms"] = (job.started_at - job.created_at) * 1e3
        rec["complete_ms"] = (job.updated_at - job.created_at) * 1e3
        rec["async"] = op["mode"] == "async"
        for d in op["docs"]:
            self.live[d["token"]] = (len(d["content"].encode()), rec)
            self.live_bytes += len(d["content"].encode())
        self.tally += job.successful_documents
        self.check_stats(rec)

    def delete(self, op: dict) -> None:
        # delete_documents takes stored chunk ids ("<id>_chunk_<n>"), not
        # the document id ingest_document returns: look the chunk up
        if op["token"] not in self.live:
            return  # its ingest already failed, and counted
        nbytes, _rec = self.live.pop(op["token"])
        chunk_ids = self.snapshot().ids_with(op["token"])
        rec, res = self.step("delete", lambda _e: self.svc.delete_documents(
            COLLECTION, chunk_ids))
        self._snap = None
        self.deleted[op["token"]] = rec
        if res is None:
            return
        if res["documents_deleted"] != 1:
            self.fail(rec, f"delete_documents returned {res}")
            return
        self.live_bytes -= nbytes
        self.tally -= 1
        self.check_stats(rec)

    def do(self, op: dict) -> None:
        kind = op["kind"]
        if kind == "probe":
            self.search({"query": op["token"], "limit": 10, "filter": None},
                        expect_hits=1 if op["expect"] else 0)
        else:
            {"search": self.search, "meta": self.meta, "ingest_doc": self.ingest_doc,
             "batch": self.batch, "delete": self.delete}[kind](op)

    # -- workloads -------------------------------------------------------------

    def run_rounds(self, rounds, seconds: float) -> None:
        """Run whole rounds (search blocks or write cycles), so every
        run times the same mix: at least ``MIN_ROUNDS``, then another
        only while half a round's time remains."""
        deadline = time.perf_counter() + seconds
        last = 0.0
        for i, ops in enumerate(rounds):
            t0 = time.perf_counter()
            if i >= MIN_ROUNDS and t0 + last / 2 >= deadline:
                break
            for op in ops:
                self.do(op)
            last = time.perf_counter() - t0

    def run_serve_read(self) -> None:
        warm = self.seed + WARMUP_SEED
        self.warm_up([next(op for op in next(read_blocks(warm)) if op["kind"] == "search")])
        self.run_rounds(read_blocks(self.seed), self.seconds * SEARCH_SHARE)
        # the writes come after the search phase: they add files to the
        # preloaded single-file layout the searches scan
        self.warm_up([op for op in next(read_tails(warm)) if op["kind"] in WARMUP_KINDS])
        self.run_rounds(read_tails(self.seed), 0)  # exactly MIN_ROUNDS
        self.check_store()

    def run_serve_write(self) -> None:
        self.warm_up([op for op in next(write_cycles(self.seed + WARMUP_SEED))
                      if op["kind"] in WARMUP_KINDS])
        self.run_rounds(write_cycles(self.seed), self.seconds)
        self.check_store()

    def run(self) -> None:
        self.phase = "run"
        getattr(self, f"run_{self.workload}")()

    # -- results ---------------------------------------------------------------

    def store_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, files in os.walk(self.root) for f in files)

    def samples(self, kind: str, traced: bool | None = None) -> list[float]:
        return [r["ms"] for r in self.ops
                if r["kind"] == kind and r["phase"] == "run"
                and (traced is None or r["traced"] == traced)]

    def end_to_end(self, peak_rss: int) -> dict:
        return {
            "setup_s": (self.session_s + self.setup_s + self.warmup_s, "s", 1),
            "search_p50_ms": (median(self.samples("search")), "ms", len(self.samples("search"))),
            "ingest_doc_p50_ms": (median(self.samples("ingest_doc")), "ms",
                                  len(self.samples("ingest_doc"))),
            "ingest_batch_p50_ms": (median(self.samples("batch")), "ms",
                                    len(self.samples("batch"))),
            "delete_p50_ms": (median(self.samples("delete")), "ms", len(self.samples("delete"))),
            "peak_rss_mb": (peak_rss / 2**20, "MiB", 1),
            "store_bytes_per_input_byte": (self.store_bytes() / self.live_bytes, "ratio", 1),
        }

    def per_layer(self) -> dict:
        traced = [r for r in self.ops if r["traced"]]
        out = {}
        for kind in SPARK_KINDS:
            rs = [r for r in traced if r["kind"] == kind
                  and r["phase"] == ("setup" if kind == "preload" else "run")]
            for c, unit in SPARK_COUNTERS:
                out[f"spark.{kind}.{c}"] = (median([r[c] for r in rs]), unit, len(rs))
            if kind in PYTHON_KINDS:
                for c, unit in PYTHON_COUNTERS:
                    out[f"python.{kind}.{c}"] = (median([r[c] for r in rs]), unit, len(rs))
        # span-based layers cover the run phase; set-up shows in *.preload.*
        run_ops = {r["n"] for r in traced if r["phase"] == "run"}
        spans = [s for s in self.tracer.spans if s["op"] in run_ops]
        selfs = span_self(self.tracer.spans)

        def ms(name: str, field: str = "dur") -> tuple[float, str, int]:
            vals = [(selfs[s["id"]] if field == "self" else s["end"] - s["start"]) * 1e3
                    for s in spans if s["name"] == name]
            return median(vals), "ms", len(vals)

        n_gc = sum(1 for s in spans if s["name"] == "catalog.get_collection")
        out["catalog.get_collection.calls"] = (n_gc / max(1, len(run_ops)), "count", len(run_ops))
        for name in ("add_documents", "delete_documents", "collection_stats"):
            out[f"catalog.{name}.ms"] = ms(f"catalog.{name}")
        out["catalog.store_files"] = (sum(len(f) for _, _, f in os.walk(self.root)), "count", 1)
        out["ingest.ingest_into.self_ms"] = ms("ingest.ingest_into", "self")
        out["search.fts_search.build_ms"] = ms("search.fts_search")
        for name in ("append", "matched_ids", "maybe_compact", "rewrite"):
            out[f"fts_index.{name}.ms"] = ms(f"fts_index.{name}")
        out["fts_index.compactions"] = (
            sum(1 for s in spans if s["name"] == "fts_index.compact_incremental"),
            "count", 1)
        asyncs = [r for r in self.ops if r.get("async")]
        out["jobs.queue_wait_ms"] = (median([r["queue_wait_ms"] for r in asyncs]), "ms", len(asyncs))
        out["jobs.async_complete_ms"] = (median([r["complete_ms"] for r in asyncs]), "ms", len(asyncs))
        out["session.start_s"] = (self.session_s, "s", 1)
        for kind in TIMED_KINDS:
            on, off = self.samples(kind, True), self.samples(kind, False)
            delta = median(on) - median(off) if on and off else 0.0
            out[f"trace.{kind}.overhead_ms"] = (delta, "ms", min(len(on), len(off)))
        return out

    def layer_table(self) -> list[str]:
        """Per op kind: wall, Spark split, and the three largest span
        self-times (mean ms per traced op)."""
        selfs = span_self(self.tracer.spans)
        lines = []
        for kind in ("preload", *TIMED_KINDS):
            rs = [r for r in self.ops if r["traced"] and r["kind"] == kind
                  and r["phase"] != "warmup"]
            if not rs:
                continue
            ids = {r["n"] for r in rs}
            per: dict[str, float] = {}
            for s in self.tracer.spans:
                if s["op"] in ids:
                    per[s["name"]] = per.get(s["name"], 0.0) + selfs[s["id"]] * 1e3 / len(rs)
            top = sorted(per.items(), key=lambda kv: -kv[1])[:3]
            lines.append(
                f"{kind:<10} n={len(rs):<3} wall={median([r['ms'] for r in rs]):8.1f} ms "
                f"jobs={median([r['jobs'] for r in rs]):4.1f} "
                f"tasks={median([r['tasks'] for r in rs]):5.1f} "
                f"in_jobs={median([r['job_ms'] for r in rs]):7.1f} ms "
                f"driver_gap={median([r['driver_gap_ms'] for r in rs]):7.1f} ms | top self: "
                + ", ".join(f"{n} {v:.1f} ms" for n, v in top))
        return lines

    def write_trace(self, path: str, settings: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(json.dumps({"settings": settings}) + "\n")
            for r in self.ops:
                f.write(json.dumps({"op": r}) + "\n")
            for s in self.tracer.spans:
                f.write(json.dumps({"span": s}) + "\n")

    # -- teardown ----------------------------------------------------------------

    def close(self) -> int:
        """Stop Spark, the JVM and every worker process; returns the
        process tree's peak RSS, read just before."""

        self.tracer.restore()
        peak = peak_rss_bytes(os.getpid())
        if self.spark is not None:
            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                    proc.wait(timeout=60)
        reap_children()
        return peak


def reap_children(timeout_s: float = 30.0) -> None:
    """Wait for every descendant process to end; kill stragglers."""

    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout_s
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".servebench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    env, conf = pin_settings(work)
    settings = {"env": env, "conf": conf, "workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": args.trace,
                "read_docs": READ_DOCS, "write_docs": WRITE_DOCS}
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        try:
            bench.start(conf)
            bench.setup()
            bench.run()
        finally:
            peak = bench.close()
        metrics = bench.per_layer() if args.trace else bench.end_to_end(peak)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        bench.write_trace(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.jsonl"),
                          settings)
        print("# layer table (traced ops)", file=sys.stderr)
        for line in bench.layer_table():
            print("# " + line, file=sys.stderr)
    report(bench, metrics)
    failed = sum(1 for r in bench.ops if r["failed"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _n) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def report(bench: Bench, metrics: dict) -> None:

    print(f"# set-up: session {bench.session_s:.2f} s, collection {bench.setup_s:.2f} s, "
          f"warm-up {bench.warmup_s:.2f} s", file=sys.stderr)
    for k, (v, u, n) in metrics.items():
        print(f"# {k} = {v:.6g} {u} (n={n})", file=sys.stderr)
    for kind in TIMED_KINDS:
        xs = bench.samples(kind)
        print(f"# {kind} samples (ms): {', '.join(f'{x:.0f}' for x in xs)}", file=sys.stderr)
        p = highest_percentile(len(xs))
        if p is not None and p > 50:
            print(f"# {kind}_p{p:g}_ms = {percentile(xs, p):.6g} ms (n={len(xs)})", file=sys.stderr)
    failed = sum(1 for r in bench.ops if r["failed"])
    print(f"# error_rate = {failed / max(1, len(bench.ops)):.6g} ({failed}/{len(bench.ops)} ops)",
          file=sys.stderr)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - no result line when the run itself broke
        traceback.print_exc()
        sys.exit(2)
