"""The two serve workloads and the set-up they share.

Every run builds its own index from the seeded corpus (Spark
`local[2]`), stops Spark, opens the daemon in a subprocess and drives
its /search endpoint in closed loops of 1 and 2 connections: over
Zipf-head terms that stay in the term-row LRU (serve_hot), or over the
whole vocabulary, more terms than the LRU holds (serve_tail).

The traced run keeps Spark and, after the timed phase, probes every
other layer through its public entry points: in-process replays
through `LocalSearcher`, the codec and tokenizer, `IndexSearcher` and
the catalog subset, and a delta build with its merge.
"""

from __future__ import annotations

import itertools
import os
import statistics
import threading
import time
from pathlib import Path

import numpy as np

from perfbench import inputs
from perfbench.checks import Reference, same_hits, same_table
from perfbench.client import Daemon, closed_loop
from perfbench.trace import Tracer

LRU_TERMS = 2048  # plans/serve.py term-row LRU entries
CATALOG_LEAVES = (
    "embed_norm", "embed_cosine_dups", "dedup_ngram_jaccard",
    "multimodal_features", "dedup_minhash_lsh_pairs",
    "distinct_users_per_type", "events_sessionize", "bm25_topk_multi",
    "bm25_recency", "bm25_wand_hot")
QUERY_CALLS = ("mixed_batch", "deep_match", "decayed", "facet")
DEEP_K = 5000  # above IndexSearcher.LOCAL_SEARCH_MAX_K (4096)
N_SHARDS = 2  # base build, probe delta and merge target alike
_OFF = Tracer(False)  # warm-up and probe loops are never traced
SETUP_REPEATS = 5
WARM_PASS, WARM_MIN_PASSES, WARM_MAX_PASSES, WARM_MAX_S = 200, 6, 12, 15.0
# The serve probe replays PROBE_REQUESTS timed requests after at most
# PROBE_WARM warm-up ones, which keeps a traced serve_hot run near two
# minutes on 4 cores.
PROBE_REQUESTS, PROBE_WARM = 400, 1200
CHECK_WINDOW = 400  # answers are checked among each loop's first requests

# (base conversations, conversations in the probe's delta)
SCALES = {"full": (3000, 150), "tiny": (200, 20)}


def p(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (/proc/stat): a run whose timed phase lost much of it ran slow."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class Bench:
    """State of one run: its Spark session, index, daemon, counters and
    metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, tracer,
                 scale: str, work: Path):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tracer = tracer
        self.base_convs, self.delta_convs = SCALES[scale]
        self.work = work
        self.tmp = work / "tmp"
        self.root = str(work / "index")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.notes: dict = {}
        self._groups: list[str] = []
        self.spark = None
        self.daemon: Daemon | None = None
        self._t0 = time.perf_counter()
        self.notes["phase_s"] = {}

    # ---- bookkeeping ----

    def mark(self, phase: str) -> None:
        """Seconds since the run began, per phase, for the annotations."""
        self.notes["phase_s"][phase] = round(time.perf_counter() - self._t0, 2)

    def op(self, what: str, err: str | None) -> None:
        self.attempted += 1
        if err:
            self.fail(what, err)

    def fail(self, what: str, err: str) -> None:
        """Count an operation (already attempted) as failed."""
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(f"{what}: {err}")

    def spark_call(self, name: str, fn):
        """Run one engine call under its own job group; returns
        (result, seconds, spark jobs it ran)."""
        sc = self.spark.sparkContext
        gid = f"pb-{len(self._groups)}-{name}"
        self._groups.append(gid)
        sc.setJobGroup(gid, name)
        with self.tracer.span(name):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        return out, dt, len(sc.statusTracker().getJobIdsForGroup(gid))

    def failed_tasks(self) -> int:
        tr = self.spark.sparkContext.statusTracker()
        n = 0
        for gid in self._groups:
            for jid in tr.getJobIdsForGroup(gid):
                job = tr.getJobInfo(jid)
                for sid in (job.stageIds if job else []):
                    st = tr.getStageInfo(sid)
                    n += st.numFailedTasks if st else 0
        return n

    # ---- shared set-up ----

    def start_spark(self, tmp: Path) -> None:
        from geospatial_spark.session import get_spark

        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": str(tmp / "spark"),
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        }
        self.spark = get_spark("perfbench", cores=2, shuffle_partitions=2,
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        keys = ("spark.master", "spark.driver.memory",
                "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
                "spark.sql.files.maxPartitionBytes")
        self.notes["spark_conf"] = {k: self.spark.conf.get(k) for k in keys}

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM (and with it the
        Python workers) to exit."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gw = sc._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(60)
        self.spark = None

    def sdf(self, pdf):
        from geospatial_spark.schemas import TRANSCRIPT_SCHEMA

        return self.spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)

    def build(self, pdf, generation: str, append: bool):
        from geospatial_spark.plans.build import build_index

        name = "build.delta" if append else "build.base"
        df = self.sdf(pdf)
        return self.spark_call(name, lambda: build_index(
            self.spark, df, self.root, n_shards=N_SHARDS,
            generation=generation, append=append))

    def merge(self):
        from geospatial_spark.plans import lifecycle as lc
        from geospatial_spark.plans.compact import merge_generations

        before = lc.read_manifest(self.root)
        gens = before["generations"]
        general = int(not all(int(g["n_shards"]) % N_SHARDS == 0
                              for g in gens))
        m, dt, _ = self.spark_call("compact.merge", lambda: merge_generations(
            self.spark, self.root, n_shards=N_SHARDS))
        out = sum(s["bytes_compressed"] for s in m["generations"][0]["shards"])
        return m, dt, {"generations_in": len(gens), "general_path": general,
                       "bytes_out": out}

    def index_bytes(self) -> int:
        from geospatial_spark.plans import lifecycle as lc

        m = lc.read_manifest(self.root)
        total = 0
        for g in m["generations"]:
            for f in Path(lc.gen_dir(self.root, g["id"])).rglob("*"):
                if f.is_file() and "_checkpoints" not in f.parts:
                    total += f.stat().st_size
        return total

    def prepare(self, side, keep_spark: bool) -> None:
        """Corpus, Spark and the base build (untimed set-up, reported as
        per-layer build figures), then the daemon opened SETUP_REPEATS
        times: setup_s is the median cold start. `side` runs while the
        JVM starts (oracle and other Spark-free preparation). Without
        `keep_spark` the session stops before the daemon starts, so no
        JVM shares the machine with the timed phase."""
        self.corpus = inputs.corpus(self.seed, self.base_convs)
        box: dict = {}

        def start():
            try:
                self.start_spark(self.tmp)
            except BaseException as e:  # re-raised in the main thread
                box["err"] = e

        th = threading.Thread(target=start)
        th.start()
        try:
            side()
        finally:
            th.join()
        if "err" in box:
            raise box["err"]
        self.mark("spark_up")
        m, dt, jobs = self.build(self.corpus, "base", False)
        self.layers.update({
            "build.wall_s": dt, "build.spark_jobs": jobs,
            "build.postings": sum(s["postings_written"] for s in m["shards"]),
            "build.bytes_compressed": sum(s["bytes_compressed"]
                                          for s in m["shards"]),
            "build.skipped_shards": sum(int(s.get("skipped", 0))
                                        for s in m["shards"])})
        if not keep_spark:
            self.stop_spark()
        self.mark("built")
        starts = []
        for i in range(SETUP_REPEATS):
            with self.tracer.span("setup.daemon_start"):
                d = Daemon(self.root)
            starts.append(d.start_s)
            if i < SETUP_REPEATS - 1:
                d.stop()
        self.daemon = d
        self.e2e["setup_s"] = statistics.median(starts)
        self.mark("daemon_up")
        self.notes["setup_s_samples"] = starts

    def close(self) -> None:
        if self.daemon is not None:
            self.daemon.stop()
            self.daemon = None
        self.stop_spark()

    # ---- daemon loops ----

    def warm_serve(self, stream) -> int:
        """Untimed 1-connection passes of WARM_PASS requests until the
        pass p50 moves < 5%, after at least WARM_MIN_PASSES passes;
        returns the number of requests sent.
        Kernels attach decoded blocks to the cached term rows, so a hot
        daemon keeps speeding up for ~1 500 requests (p50 7.7 ms in the
        first 160 requests, 4.3 ms after 1 100, on 4 cores)."""
        prev, sent = None, 0
        deadline = time.perf_counter() + WARM_MAX_S
        for i in range(WARM_MAX_PASSES):
            recs = closed_loop(self.daemon, itertools.islice(
                stream, WARM_PASS), 1, WARM_MAX_S, _OFF)
            sent += len(recs)
            cur = p([r["t"] for r in recs], 50)
            if (i >= WARM_MIN_PASSES - 1 and abs(cur - prev) / prev < 0.05
                    or time.perf_counter() > deadline):
                break
            prev = cur
        self.notes["warm_passes"] = i + 1
        return sent

    def expect_sample(self, ref: Reference, stream, n: int,
                      salt: int) -> dict[int, tuple]:
        """Oracle answers for a seed-chosen sample of the first
        CHECK_WINDOW requests of `stream`, made while the JVM starts:
        {request index: (request, answer)}."""
        rng = np.random.default_rng([self.seed, salt])
        picks = set(rng.choice(CHECK_WINDOW, size=n, replace=False).tolist())
        return {i: (req, ref.answer(req)) for i, req in
                enumerate(itertools.islice(stream, CHECK_WINDOW))
                if i in picks}

    def check_sample(self, ref: Reference, recs, expected) -> None:
        """A daemon answer that differs from the oracle's turns its
        request into a failed op. A short run may not reach every
        sampled index; a request that errored has failed already."""
        by_i = {r["i"]: r for r in recs}
        for i, (req, want) in expected.items():
            r = by_i.get(i)
            if r is not None and r["error"] is None:
                self.notes["answers_checked"] = self.notes.get(
                    "answers_checked", 0) + 1
                err = ref.check(req, r["hits"], want)
                if err:
                    self.fail(str(req), err)

    def finish_daemon(self) -> None:
        self.e2e["daemon_rss_mb"] = self.daemon.rss_mb()
        text_bytes = int(self.corpus["text"].str.encode("utf-8").str.len()
                         .sum())
        self.e2e["index_bytes_per_text_byte"] = self.index_bytes() / text_bytes
        c = self.daemon.health()["request_cache"]
        self.layers["daemon.request_cache_hit_ratio"] = (
            c["hits"] / max(c["hits"] + c["misses"], 1))

    # ---- per-layer probes (traced run only) ----

    def probe_serve(self, timed, n_warm: int, tail: bool) -> None:
        """In-process replays of the first timed 1-connection requests
        through fresh LocalSearchers, which split the daemon's p50 into
        its layers:

        - daemon-like: the default LRU, first fed the warm-up requests
          the daemon got (up to PROBE_WARM), so it sees about the
          daemon's hit rate. It gives the per-type p50s, the first-touch latency
          and, against the daemon's p50 on the same requests, the
          HTTP/JSON overhead;
        - resident: an LRU that keeps every row, filled by one untimed
          pass: kernels alone (`serve.resident_ms`);
        - `serve.read_decode_ms`: per request, daemon-like minus
          resident (median): what segment reads, decode and Arrow to
          Python conversion cost at the daemon's hit rate."""
        from geospatial_spark.plans.daemon import dispatch
        from geospatial_spark.plans.serve import LocalSearcher

        reqs = [r for r in timed if r["error"] is None][:PROBE_REQUESTS]

        def searcher():
            ls = LocalSearcher(self.root, preload_docmaps=True)
            ls.search("the", 1)
            ls.warm_hot_terms()
            return ls

        def replay(ls, tracer) -> list[float]:
            out = []
            for r in reqs:
                with tracer.span("serve.resident", req=f"r{r['i']}"):
                    t0 = time.perf_counter()
                    dispatch(ls, r["req"])
                    out.append(time.perf_counter() - t0)
            return out

        ls = searcher()
        seen: set[str] = set()
        first = []
        for req in itertools.islice(inputs.request_stream(self.seed, 0, tail),
                                    min(n_warm, PROBE_WARM)):
            t0 = time.perf_counter()
            dispatch(ls, req)
            terms = inputs.request_terms(req)
            if not terms <= seen:
                first.append(time.perf_counter() - t0)
            seen |= terms
        like = []
        by_type: dict[str, list[float]] = {}
        for r in reqs:
            req = r["req"]
            with self.tracer.span(f"serve.{req['type']}", req=f"r{r['i']}"):
                t0 = time.perf_counter()
                dispatch(ls, req)
                dt = time.perf_counter() - t0
            terms = inputs.request_terms(req)
            if not terms <= seen:
                first.append(dt)
            seen |= terms
            by_type.setdefault(req["type"], []).append(dt)
            like.append(dt)
        del ls
        big = searcher()
        big.term_cache_max = 1 << 30
        big.term_cache_max_bytes = 1 << 40
        replay(big, _OFF)
        resident = replay(big, self.tracer)
        for t in ("match", "phrase", "near", "bool", "facet"):
            self.layers[f"serve.{t}_ms"] = p(by_type.get(t, [0.0]), 50) * 1e3
        self.layers.update({
            "serve.first_touch_ms": p(first or [0.0], 50) * 1e3,
            "serve.resident_ms": p(resident, 50) * 1e3,
            "serve.read_decode_ms": p(np.subtract(like, resident), 50) * 1e3,
            "daemon.overhead_ms": (p([r["t"] for r in reqs], 50)
                                   - p(like, 50)) * 1e3})

    def probe_codec_tokenize(self) -> None:
        import pandas as pd
        import pyarrow.parquet as pq

        from geospatial_spark.functions.codec import (decode_posting,
                                                      encode_shard_streams)
        from geospatial_spark.functions.tokenize import tokenize_encoded
        from geospatial_spark.plans import lifecycle as lc

        m = lc.read_manifest(self.root)
        g = m["generations"][0]
        gdir = Path(lc.gen_dir(self.root, g["id"]))
        sh = g["shards"][0]
        seg = pq.read_table(gdir / sh["segment_file"],
                            columns=["term", "doc_blocks", "tf_blocks"])
        dls = pq.read_table(gdir / sh["docmap_file"],
                            columns=["dl"])["dl"].to_numpy()
        rows = seg.to_pydict()
        with self.tracer.span("codec.decode"):
            t0 = time.perf_counter()
            dec = [decode_posting(d, t) for d, t in
                   zip(rows["doc_blocks"], rows["tf_blocks"])]
            dt = time.perf_counter() - t0
        n = sum(len(d) for d, _ in dec)
        self.layers["codec.decode_mpostings_per_s"] = n / 1e6 / dt
        docs = np.concatenate([d for d, _ in dec]).astype(np.int64)
        tfs = np.concatenate([t for _, t in dec]).astype(np.int64)
        ends = np.cumsum([len(d) for d, _ in dec]).astype(np.int64)
        starts = np.concatenate(([0], ends[:-1])).astype(np.int64)
        with self.tracer.span("codec.encode"):
            t0 = time.perf_counter()
            encode_shard_streams(docs, tfs, dls[docs].astype(np.int64),
                                 starts, ends)
            dt = time.perf_counter() - t0
        self.layers["codec.encode_mpostings_per_s"] = n / 1e6 / dt
        texts = pd.Series(self.corpus["text"])
        mb = texts.str.encode("utf-8").str.len().sum() / 1e6
        times = []
        for _ in range(3):
            with self.tracer.span("tokenize.encoded"):
                t0 = time.perf_counter()
                tokenize_encoded(texts)
                times.append(time.perf_counter() - t0)
        self.layers["tokenize.mb_per_s"] = mb / statistics.median(times)

    def probe_write(self) -> None:
        """One delta build, published to the live daemon, then the merge
        of base and delta. Both have N_SHARDS shards, which divide the
        merge target, so the merge takes the co-located fused path."""
        marker = f"zzprobe{self.seed}"
        pdf = inputs.delta(self.seed, self.base_convs, 0, self.delta_convs,
                           marker)
        want = f"{pdf['conv_id'].iloc[0]}:{int(pdf['turn_idx'].iloc[0])}"
        built_at = self.daemon.health()["built_at_unix"]
        _, build_s, _ = self.build(pdf, "probe", True)
        t_built = time.perf_counter()
        swap_s = None
        err = "marker never became searchable"
        with self.tracer.span("daemon.swap"):
            while time.perf_counter() - t_built < 60:
                if swap_s is None and (self.daemon.health()[
                        "built_at_unix"] != built_at):
                    swap_s = time.perf_counter() - t_built
                hits = self.daemon.post({"type": "match", "q": marker,
                                         "k": 5})
                if hits and hits[0][0] == want:
                    err = None
                    break
                time.sleep(0.005)
        self.op("build.delta", err)
        self.layers["build.delta_wall_s"] = build_s
        self.layers["daemon.swap_s"] = (time.perf_counter() - t_built
                                        if swap_s is None else swap_s)
        total = len(self.corpus) + len(pdf)
        m, dt, info = self.merge()
        self.op("compact.merge", None if m["n_docs"] == total
                else f"merged n_docs {m['n_docs']} != {total}")
        self.layers.update({"compact.wall_s": dt, **{
            f"compact.{k}": v for k, v in info.items()}})

    def probe_query_catalog(self, ref: Reference) -> None:
        """One untimed round (Spark codegen, catalog index builds), then
        the timed one."""
        probe = QueryProbe(self, inputs.catalog_dir(self.seed), ref)
        probe.round()
        probe.round()
        probe.report()


# ---- serve_hot / serve_tail ----

# The timed window alternates a 1-connection and a 2-connection loop,
# equal time each, in SERVE_ROUNDS rounds. The host is shared: in some
# rounds the hypervisor runs other guests on this machine's CPUs, and
# round p50s rise with the CPU time stolen that way (/proc/stat steal;
# rounds with 0.3-0.5 s stolen ran 1.2-1.5x slower than quiet rounds of
# the same run). Each loop's figures therefore pool the requests of the
# rounds that lost no more CPU than the loop's median round; a slower
# engine slows every round and still shows.
SERVE_ROUNDS = 20


def quiet(rounds: list[dict]) -> list[dict]:
    cut = statistics.median(r["steal_s"] for r in rounds)
    return [r for r in rounds if r["steal_s"] <= cut]


def pooled(rounds: list[dict]) -> tuple[float, float]:
    """(p50 ms, requests per second) over the rounds' answered requests;
    the p50 is NaN when none was answered."""
    ok = [x["t"] for r in rounds for x in r["recs"] if x["error"] is None]
    return (p(ok, 50) * 1e3 if ok else float("nan"),
            len(ok) / sum(r["wall"] for r in rounds))


def run_serve(b: Bench, tail: bool) -> None:
    box: dict = {}

    def side():
        ref = box["ref"] = Reference(b.corpus)
        box["expected"] = [
            b.expect_sample(ref, inputs.request_stream(b.seed, 1 + c, tail),
                            n, 1 + c) for c, n in ((0, 24), (1, 16))]

    # the traced run keeps Spark for its query, catalog and write probes
    b.prepare(side, keep_spark=b.tracer.enabled)
    ref = box["ref"]
    n_warm = b.warm_serve(inputs.request_stream(b.seed, 0, tail))
    b.mark("warm")
    streams = (inputs.request_stream(b.seed, 1, tail),
               inputs.request_stream(b.seed, 2, tail))
    rounds: tuple[list, list] = ([], [])
    cpu0, steal0 = b.daemon.cpu_s(), steal_s()
    for _ in range(SERVE_ROUNDS):
        for conns, stream, out in zip((1, 2), streams, rounds):
            t0, st0 = time.perf_counter(), steal_s()
            got = closed_loop(b.daemon, stream, conns,
                              b.seconds / (2 * SERVE_ROUNDS), b.tracer,
                              first=sum(len(r["recs"]) for r in out))
            out.append({"recs": got, "wall": time.perf_counter() - t0,
                        "steal_s": steal_s() - st0})
    cpu_s = b.daemon.cpu_s() - cpu0
    b.notes["steal_s_timed"] = round(steal_s() - steal0, 2)
    b.mark("timed")
    recs = tuple([x for r in rs for x in r["recs"]] for rs in rounds)
    for x in recs[0] + recs[1]:
        b.op("daemon.request", x["error"])
    (p1, q1), (p2, q2) = (pooled(quiet(rs)) for rs in rounds)
    b.e2e.update({"search_p50_ms": p2, "search_qps": q2,
                  "search_1conn_p50_ms": p1, "search_1conn_qps": q1})
    b.notes.update({
        "requests": [len(r) for r in recs],
        "quiet_rounds": [len(quiet(rs)) for rs in rounds],
        "all_rounds_p50_ms": [pooled(rs)[0] for rs in rounds],
        "round_p50_ms_steal_s": [[(round(pooled([r])[0], 3),
                                   round(r["steal_s"], 2)) for r in rs]
                                 for rs in rounds]})
    b.layers.update({
        "search_p99_ms": p([x["t"] for x in recs[1] if x["error"] is None],
                           99) * 1e3,
        "daemon.cpu_ms_per_request": cpu_s * 1e3 / max(len(recs[0])
                                                       + len(recs[1]), 1),
        "daemon.lock_wait_ms": p2 - p1})
    terms: set[str] = set()
    for r in recs[0] + recs[1]:
        terms |= inputs.request_terms(r["req"])
    b.layers["serve.distinct_terms_per_lru"] = len(terms) / LRU_TERMS
    b.finish_daemon()
    for loop, expected in zip(recs, box["expected"]):
        b.check_sample(ref, loop, expected)
    if b.tracer.enabled:
        b.probe_serve(recs[0], n_warm, tail)
        b.probe_codec_tokenize()
        b.probe_query_catalog(ref)
        b.probe_write()


# ---- IndexSearcher and catalog probe ----

class QueryProbe:
    """Four IndexSearcher calls, then the catalog subset, each checked
    against its reference: the Spark-executed path and the local or
    distributed route each call takes."""

    def __init__(self, b: Bench, tables: str, ref: Reference):
        import duckdb

        from geospatial_spark.plans import catalog
        from geospatial_spark.plans.query import IndexSearcher

        self.b, self.tables, self.ref = b, tables, ref
        self.catalog = catalog.queries()
        osql = catalog.oracle_sql()
        con = duckdb.connect()
        for t in ("documents", "embeddings", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{tables}/{t}.parquet'")
        self.want = {}
        for leaf in CATALOG_LEAVES:
            res = con.execute(osql[leaf])
            self.want[leaf] = ([d[0] for d in res.description],
                               res.fetchall())
        con.close()
        rng = np.random.default_rng([b.seed, 11])
        head = inputs._vocab()[:inputs.HOT_TERMS]

        def w(n):
            return " ".join(head[rng.choice(len(head), n, replace=False)])

        # bench.py's mixed batch shape, over head terms
        self.mixed = {
            "m1": {"type": "match", "q": w(4)},
            "m2": {"type": "match", "q": w(4)},
            "p1": {"type": "phrase", "q": "the " + w(1)},
            "p2": {"type": "phrase", "q": w(2)},
            "n1": {"type": "near", "q": w(2), "slop": 3},
            "n2": {"type": "near", "q": w(2), "slop": 5},
            "b1": {"type": "bool", "should": w(2), "filter": "the"},
            "b2": {"type": "bool", "filter": "the " + w(1),
                   "must_not": w(1)},
        }
        self.deep_q = w(2)
        self.decay_q = "the " + w(1)
        self.facet_q = "the " + w(1)
        self.origin_us = max(self.ref.ts_us.values()) + 86_400_000_000
        self.times: dict[str, float] = {}
        self.jobs: dict[str, int] = {}
        self.searcher = IndexSearcher(b.spark, b.root)

    def _call(self, name: str, fn, check) -> None:
        out, self.times[name], self.jobs[name] = self.b.spark_call(name, fn)
        self.b.op(name, check(out))

    def _check_mixed(self, out) -> str | None:
        for qid, spec in self.mixed.items():
            if spec["type"] == "bool":
                continue
            err = same_hits(out[qid], self.ref.answer({**spec, "k": 10}))
            if err:
                return f"{qid}: {err}"
        return None

    def round(self) -> None:
        """One call of each; a later round overwrites the timings."""
        s, ref = self.searcher, self.ref
        with self.b.tracer.span("query.round"):
            self._call("query.mixed_batch",
                       lambda: s.search_many_mixed(self.mixed, 10),
                       self._check_mixed)
            self._call("query.deep_match", lambda: s.search(self.deep_q,
                                                            DEEP_K),
                       lambda o: same_hits(o, ref.match(self.deep_q, DEEP_K)))
            self._call("query.decayed", lambda: s.search_decayed(
                self.decay_q, 10, 86_400.0, self.origin_us),
                lambda o: same_hits(o, ref.decayed(
                    self.decay_q, 10, 86_400.0, self.origin_us)))
            self._call("query.facet",
                       lambda: s.facet_counts(should=self.facet_q),
                       lambda o: None if o == ref.facet(self.facet_q)
                       else f"facet {o}")
            for leaf in CATALOG_LEAVES:
                def run(leaf=leaf):
                    df = self.catalog[leaf](self.b.spark, self.tables)
                    return df.columns, [tuple(r) for r in df.collect()]

                self._call(f"catalog.{leaf}", run,
                           lambda o, leaf=leaf: same_table(
                               o[0], o[1], *self.want[leaf]))

    def report(self) -> None:
        L = self.b.layers
        q_jobs = [self.jobs[f"query.{c}"] for c in QUERY_CALLS]
        L["query.spark_jobs_per_query"] = statistics.mean(q_jobs)
        L["query.local_share"] = sum(j == 0 for j in q_jobs) / len(q_jobs)
        for c in QUERY_CALLS:
            L[f"query.{c}_s"] = self.times[f"query.{c}"]
        for leaf in CATALOG_LEAVES:
            L[f"catalog.{leaf}_s"] = self.times[f"catalog.{leaf}"]
        L["catalog.spark_jobs_per_query"] = statistics.mean(
            self.jobs[f"catalog.{leaf}"] for leaf in CATALOG_LEAVES)


RUNNERS = {"serve_hot": lambda b: run_serve(b, tail=False),
           "serve_tail": lambda b: run_serve(b, tail=True)}


def run(b: Bench) -> None:
    RUNNERS[b.workload](b)
    if b.tracer.enabled:
        b.layers["spark.failed_tasks"] = b.failed_tasks()
    b.mark("done")
