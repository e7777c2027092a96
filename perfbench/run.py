"""End-to-end benchmark of the refimage_spark serving tier, timed from outside.

    python3 perfbench/run.py --workload serve_head --seed 1 --seconds 10 --trace 0

Run from the repository root. One process drives the engine's public entry
points on local[nproc] with at most nproc client threads:
``build_index`` -> ``warm_serving_pool`` -> ``search_local``. With
``--trace 1`` it also drives ``append_pages`` / ``delete_docs`` /
``run_merge_policy`` (serve_head) or the ``operators.dedup`` operators
(serve_wide). Every answer is checked (see oracle.py). The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones of a separate traced run. Design notes: README.md.
"""

from __future__ import annotations

import argparse
import atexit
import gc
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import mix  # noqa: E402
from oracle import Oracle, query_terms, tokens, well_formed  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = {
    # 32 segments: a lone query runs inline in this process, and the
    # per-segment kernel (decode + score) does most of the work.
    "serve_head": {"pages": 10_000, "parts": 32, "mix": "head"},
    # 160 segments (> the 128-segment inline limit): even a lone query
    # fans out over the serving process pool; dispatch dominates.
    "serve_wide": {"pages": 10_000, "parts": 160, "mix": "wide"},
}
K = 10
BUILD_LAPS = 2  # cold, then warm; setup counts their median
LONE_PER_SECOND = 100  # well-formed lone queries per --seconds
LOAD_PER_SECOND = 100  # queries of the multi-client phase per --seconds
ROUNDS = 10  # turns of lone slice + load round
MALFORMED_EVERY = 101  # one malformed query per 100 well-formed ones
WARMUP_QUERIES = 100  # untimed lone queries before the lone phase
WARMUP_LOAD_QUERIES = 600  # untimed multi-client queries: fill the pool's term memos
TRACE_QUERIES = 200  # lone queries in each of the traced run's three replay slices
WRITE_BATCHES = 5
WRITE_BATCH_PAGES = 1_000
DELETE_DOCS = 50
DEDUP_DOCS = 10_000
SAMPLE_PAIRS = 200


def pctl(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Ledger:
    """Attempted and failed operations of the run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.lock = threading.Lock()

    def op(self, error: str | None, what: str) -> None:
        with self.lock:
            self.attempted += 1
            if error is not None:
                self.failed += 1
                if self.failed <= 20:
                    print(f"FAILED {what}: {error}", file=sys.stderr, flush=True)


def descendants(root: int) -> list[int]:
    """Live (non-zombie) descendant pids of ``root``, from /proc."""
    parent, state = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(name)], state[int(name)] = int(fields[1]), fields[0]
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += [c for c in kids if state[c] != "Z"]
        todo += kids
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def rss_mb() -> float:
    """RSS of this process plus its serving workers (forkserver children)."""
    keep = [os.getpid()]
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                if b"forkserver" in f.read():
                    keep.append(p)
        except OSError:
            pass
    total_kb = 0
    for p in keep:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


class Bench:
    def __init__(self, args, root: str, work: str):
        self.args = args
        self.root = root
        self.work = work
        self.cfg = WORKLOADS[args.workload]
        self.ledger = Ledger()
        self.layer: dict[str, tuple[float, str]] = {}
        self.unmeasured: dict[str, str] = {}
        self.spark = None
        self.t0 = time.perf_counter()

    def log(self, what: str) -> None:
        print(f"[{time.perf_counter() - self.t0:7.2f}s] {what}", file=sys.stderr, flush=True)

    # ---- setup ---------------------------------------------------------------

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from refimage_spark.index.build import build_index
        from refimage_spark.index.query import warm_serving_pool
        from refimage_spark.session import get_spark
        from refimage_spark.sources.pages import _EPOCH_S, generate_pages

        a, cfg = self.args, self.cfg
        cores = os.cpu_count() or 4
        t = time.perf_counter()
        self.spark = get_spark(
            "refimage-perfbench",
            cores=cores,
            shuffle_partitions=2 * cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        spark_s = time.perf_counter() - t
        self.log("spark started")

        # rows past the base corpus feed the traced write phase
        extra = WRITE_BATCHES * WRITE_BATCH_PAGES if self.writes else 0
        t = time.perf_counter()
        pages_dir = os.path.join(self.work, "pages")
        generate_pages(
            self.spark, cfg["pages"] + extra, seed=a.seed, partitions=cores
        ).write.parquet(pages_dir)
        self.all_pages = self.spark.read.parquet(pages_dir)
        self.row = ((F.col("warc_ts").cast("long") - _EPOCH_S) / 17).cast("long")
        base = self.all_pages.where(self.row < cfg["pages"])
        corpus_s = time.perf_counter() - t
        self.log("corpus written")

        laps = []
        for lap in range(BUILD_LAPS):
            d = os.path.join(self.work, f"index{lap}")
            t = time.perf_counter()
            m = build_index(self.spark, base, d, num_parts=cfg["parts"])
            laps.append((time.perf_counter() - t, m))
            if lap:
                shutil.rmtree(os.path.join(self.work, f"index{lap - 1}"))
            self.log(f"build lap {lap}: {laps[-1][0]:.2f}s")
        self.index = d
        warm_lap_s, warm_m = laps[-1]
        build_s = statistics.median(x[0] for x in laps)

        t = time.perf_counter()
        warm_serving_pool(self.index)
        warm_s = time.perf_counter() - t
        self.log("serving pool warm")

        t = time.perf_counter()
        self.prepare_queries()
        for q in self.warmup:
            self.serve(q)
        self.clients_round(self.warmup_load)
        expected_s = time.perf_counter() - t
        self.log("expected answers ready")

        self.setup_s = spark_s + corpus_s + build_s + warm_s + expected_s
        # quiesce before timing: write back the index files and run the
        # collectors now rather than during the timed phases
        os.sync()
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()
        gc.freeze()  # the run's own heap (expected answers) is never freed
        self.layer.update(
            {
                "setup.spark_s": (spark_s, "s"),
                "setup.corpus_s": (corpus_s, "s"),
                "setup.build_s": (build_s, "s"),
                "setup.warm_s": (warm_s, "s"),
                "setup.expected_s": (expected_s, "s"),
                "build.cold_lap_s": (laps[0][0], "s"),
                "build.docs_per_s": (warm_m["n_docs"] / warm_lap_s, "1/s"),
                "build.pass_a_s": (warm_m["pass_a_sec"], "s"),
                "build.pass_b_s": (warm_m["pass_b_sec"], "s"),
                "build.term_stats_s": (
                    warm_m["build_sec"] - warm_m["pass_a_sec"] - warm_m["pass_b_sec"],
                    "s",
                ),
            }
        )

    @property
    def writes(self) -> bool:
        return bool(self.args.trace) and self.args.workload == "serve_head"

    def prepare_queries(self) -> None:
        """Fixed seeded sequences and their expected answers (oracle.py),
        all before any timing."""
        a, kind = self.args, self.cfg["mix"]
        n_lone = LONE_PER_SECOND * a.seconds
        self.lone = mix.sequence(
            kind, a.seed, n_lone + n_lone // (MALFORMED_EVERY - 1), MALFORMED_EVERY
        )
        self.warmup = mix.sequence(kind, a.seed + 1_000_003, WARMUP_QUERIES)
        self.warmup_load = mix.sequence(kind, a.seed + 4_000_003, WARMUP_LOAD_QUERIES)
        self.load = mix.sequence(kind, a.seed + 2_000_003, LOAD_PER_SECOND * a.seconds)
        self.mixed = mix.sequence("head", a.seed + 3_000_003, 2_000) if self.writes else []
        well = [q for q in self.lone if q not in mix.MALFORMED]
        queries = set(
            well + self.warmup + self.warmup_load + self.load + self.mixed + mix.REFERENCE
        )
        self.oracle = Oracle(
            os.path.join(self.index, "docs.parquet"), query_terms(queries)
        )
        self.expected = {q: self.oracle.answer(q, K) for q in queries}

    def dataframe_answers(self, index: str, dead: set[int]) -> dict[str, list]:
        """Top-k of each reference query from the DataFrame engine
        (plans.compiler over operators.bm25), which shares no code with
        the segment kernel. Tombstoned docs are dropped from its ranking,
        as serving drops them."""
        from pyspark.sql import functions as F

        from refimage_spark.operators.bm25 import Corpus
        from refimage_spark.plans.compiler import search
        from refimage_spark.tokenizer import spark_tokens

        docs = self.spark.read.parquet(os.path.join(index, "docs.parquet"))
        toks = spark_tokens("text")
        corpus = Corpus(
            docs.select(
                "doc_id", toks.alias("tokens"), F.size(toks).alias("dl"), "tags"
            ).localCheckpoint(eager=True)
        )

        def top(q: str) -> list:
            rows = search(corpus, q, limit=K + len(dead)).collect()
            ranked = sorted(((r.doc_id, r.score) for r in rows), key=lambda x: (-x[1], x[0]))
            return [(d, sc) for d, sc in ranked if d not in dead][:K]

        with ThreadPoolExecutor(os.cpu_count() or 4) as ex:
            return dict(zip(mix.REFERENCE, ex.map(top, mix.REFERENCE)))

    def check_reference(self, index: str, oracle, dead: set[int], df_answers) -> None:
        """Reference queries: the DataFrame engine's answers and the
        serving engine's (lone) answers, each against the oracle."""
        from refimage_spark.index.query import search_local

        for q in mix.REFERENCE:
            want = oracle.answer(q, K)
            self.ledger.op(want.check(df_answers[q]), f"DataFrame engine vs oracle: {q!r}")
            self.ledger.op(
                want.check(search_local(index, q, k=K)), f"serving vs oracle: {q!r}"
            )

    # ---- timed phases ----------------------------------------------------------

    def serve(self, query: str) -> tuple[float, bool]:
        """One checked lone query -> (seconds, was it malformed)."""
        from refimage_spark.dsl import DSLParseError
        from refimage_spark.index.query import search_local

        bad = query in mix.MALFORMED
        t = time.perf_counter()
        try:
            got = search_local(self.index, query, k=K)
            err = "malformed query accepted" if bad else self.expected[query].check(got)
        except DSLParseError as e:
            err = None if bad else f"DSLParseError {e}"
        except Exception as e:  # noqa: BLE001 — counted as a failed op
            err = f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t
        self.ledger.op(err, repr(query))
        return dt, bad

    def clients_round(self, queries: list[str]) -> tuple[float, list[float]]:
        """``queries`` split over min(4, nproc) closed-loop client threads
        -> (queries per second, per-query latencies in ms)."""
        clients = min(4, os.cpu_count() or 4)
        lat: list[list[float]] = [[] for _ in range(clients)]
        start = threading.Barrier(clients + 1)

        def client(i: int) -> None:
            start.wait()
            for q in queries[i::clients]:
                lat[i].append(self.serve(q)[0] * 1e3)

        threads = [threading.Thread(target=client, args=(i,)) for i in range(clients)]
        for th in threads:
            th.start()
        start.wait()
        t = time.perf_counter()
        for th in threads:
            th.join()
        return len(queries) / (time.perf_counter() - t), [x for c in lat for x in c]

    def timed_phases(self) -> None:
        """The lone and the load sequence, each cut into ROUNDS consecutive
        slices, run in turns: lone slice, load round, lone slice, ... The
        host's speed drifts over tens of seconds, so both phases sample it
        over the whole timed window rather than each over one part of it.
        qps is the median round's; percentiles are over every query."""
        n_lone = -(-len(self.lone) // ROUNDS)
        n_load = len(self.load) // ROUNDS
        ok, rejects, rounds, self.load_ms = [], [], [], []
        for r in range(ROUNDS):
            for q in self.lone[r * n_lone : (r + 1) * n_lone]:
                dt, bad = self.serve(q)
                (rejects if bad else ok).append(dt * 1e3)
            qps, lat = self.clients_round(self.load[r * n_load : (r + 1) * n_load])
            rounds.append(qps)
            self.load_ms += lat
        self.lone_ms, self.reject_ms = ok, rejects
        self.load_qps = statistics.median(rounds)
        n = len(ok) // ROUNDS
        by_round = [statistics.median(ok[i * n : (i + 1) * n]) for i in range(ROUNDS)]
        self.log("lone p50 by round: " + " ".join(f"{x:.2f}" for x in by_round))
        self.log("load qps by round: " + " ".join(f"{x:.1f}" for x in rounds))

    def e2e(self) -> dict:
        from refimage_spark.index.query import index_stats

        self.timed_phases()
        self.log("timed phases done")
        st = index_stats(self.index)
        return {
            "setup_s": (self.setup_s, "s"),
            "lone_p50_ms": (statistics.median(self.lone_ms), "ms"),
            "lone_p99_ms": (pctl(self.lone_ms, 0.99), "ms"),
            "load_qps": (self.load_qps, "1/s"),
            "load_p99_ms": (pctl(self.load_ms, 0.99), "ms"),
            "reject_p50_ms": (statistics.median(self.reject_ms), "ms"),
            "rss_mb": (rss_mb(), "MB"),
            "index_bytes_per_doc": (st["post_bytes"] / st["n_docs"], "B"),
        }

    # ---- traced run ------------------------------------------------------------

    def traced(self) -> dict:
        from refimage_spark import dsl
        from refimage_spark.index import query as Q
        from refimage_spark.index import segment as S

        self.check_reference(
            self.index, self.oracle, set(), self.dataframe_answers(self.index, set())
        )
        # Slices of the lone sequence. Slice 1, per query in alternating
        # order: (a) the real serving path and (b) in-process (inline limit
        # lifted, so serve_wide runs here too). Slice 2: (c) in-process,
        # traced; its spans give the per-layer figures. Slices 1 and 2 are
        # the first in-process pass over their queries, so their term memo
        # misses are those of the timed lone phase. Slice 3, after one warm
        # pass, per query in alternating order untraced and traced: the
        # tracing overhead at equal cache state.
        well = [q for q in self.lone if q not in mix.MALFORMED]
        n = min(TRACE_QUERIES, len(well) // 3)
        replay, replay_c, replay_o = well[:n], well[n : 2 * n], well[2 * n : 3 * n]
        tracer = Tracer()

        def count(name, amount):
            def hook(t, args, out):
                t.counts[(name, t.query)] += amount(args, out)

            return hook

        tracer.wrap(dsl, "parse", "dsl.parse")
        tracer.wrap(Q, "_query_plan", "query.plan")
        tracer.wrap(
            Q,
            "_segment_topk",
            "query.segment",
            count("hit_segments", lambda a, o: int(o[0].size > 0)),
        )
        tracer.wrap(Q, "eval_node", "query.score")
        tracer.wrap(Q, "topk_arrays", "query.topk")
        tracer.wrap(
            S.SegmentReader,
            "lookup_terms",
            "segment.lookup",
            count("terms", lambda a, o: len(a[1])),
        )
        tracer.wrap(
            S.SegmentReader,
            "read_postings",
            "segment.read_postings",
            count("postings", lambda a, o: int(a[1]["n"])),
        )
        tracer.wrap(S, "varbyte_decode", "codec.decode")
        tracer.wrap(S, "blocked_delta_decode", "codec.decode")
        tracer.wrap(S.SegmentReader, "__init__", "segment.open")
        tracer.uninstall()
        inline_max = Q._INLINE_MAX_SEGMENTS
        real, inline, hits = [], [], {}
        plain, with_spans = [], []
        try:
            Q._INLINE_MAX_SEGMENTS = 1 << 30
            for q in self.warmup:  # load this process's readers first
                self.serve(q)
            for i, q in enumerate(replay):
                for path in (0, 1) if i % 2 else (1, 0):
                    Q._INLINE_MAX_SEGMENTS = inline_max if path == 0 else 1 << 30
                    (real if path == 0 else inline).append(self.serve(q)[0] * 1e3)
            Q._INLINE_MAX_SEGMENTS = 1 << 30
            tracer.install()
            for i, q in enumerate(replay_c):
                tracer.query = i
                self.serve(q)
                hits[i] = len(self.expected[q].top)
            tracer.uninstall()
            tracer.query = -3
            for q in replay_o:
                self.serve(q)
            for i, q in enumerate(replay_o):
                for on in (False, True) if i % 2 else (True, False):
                    if on:
                        tracer.install()
                    (with_spans if on else plain).append(self.serve(q)[0] * 1e3)
                    if on:
                        tracer.uninstall()
        finally:
            Q._INLINE_MAX_SEGMENTS = inline_max
        # malformed queries on the real path, traced
        tracer.query = -2
        bad = mix.MALFORMED
        tracer.install()
        for q in bad:
            self.serve(q)
        tracer.uninstall()

        qs = list(range(len(replay_c)))
        selft = tracer.self_times()

        def med_us(name):
            per_q = selft.get(name, {})
            return statistics.median(per_q.get(i, 0.0) for i in qs)

        def med_count(name):
            return statistics.median(tracer.counts[(name, i)] for i in qs)

        n_seg = sum(tracer.counts[("query.segment", i)] for i in qs)
        n_hit = sum(tracer.counts[("hit_segments", i)] for i in qs)
        n_post = sum(tracer.counts[("postings", i)] for i in qs)
        self.layer.update(
            {
                "dsl.parse_us": (med_us("dsl.parse"), "us"),
                "query.plan_us": (med_us("query.plan"), "us"),
                "segment.lookup_us": (med_us("segment.lookup"), "us"),
                "segment.terms_looked_up": (med_count("terms"), "count"),
                "segment.read_postings_us": (med_us("segment.read_postings"), "us"),
                "segment.postings_read": (med_count("postings"), "count"),
                "codec.decode_us": (med_us("codec.decode"), "us"),
                "query.score_us": (med_us("query.score"), "us"),
                "query.topk_us": (med_us("query.topk"), "us"),
                "query.postings_per_hit": (n_post / max(1, sum(hits.values())), "ratio"),
                "query.segments_per_query": (n_seg / len(qs), "count"),
                "query.hit_segment_ratio": (n_hit / max(1, n_seg), "ratio"),
                "query.dispatch_ms": (
                    statistics.median(real) - statistics.median(inline),
                    "ms",
                ),
                "query.parses_per_reject": (
                    tracer.counts[("dsl.parse", -2)] / len(bad),
                    "count",
                ),
                "segment.reader_loads": (
                    sum(tracer.counts[("segment.open", i)] for i in qs),
                    "count",
                ),
                "trace.overhead_pct": (
                    100.0 * (statistics.median(with_spans) / statistics.median(plain) - 1),
                    "%",
                ),
            }
        )
        spans_dir = os.path.join(self.root, ".perfbench_out")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.dump(
            os.path.join(
                spans_dir, f"spans-{self.args.workload}-seed{self.args.seed}.jsonl.gz"
            )
        )
        if self.writes:
            self.write_phase()
        else:
            self.unmeasured.update(
                {m: "write phase runs in the serve_head traced run" for m in WRITE_METRICS}
            )
        if self.args.workload == "serve_wide":
            self.dedup_phase()
        else:
            self.unmeasured.update(
                {m: "dedup laps run in the serve_wide traced run" for m in DEDUP_METRICS}
            )
        for m in self.unmeasured:
            self.layer[m] = (0.0, LAYER_UNITS[m])
        return self.layer

    def write_phase(self) -> None:
        """Appends of fresh pages, one delete and the merge policy, with
        one closed-loop reader replaying the head mix throughout."""
        import numpy as np
        import pyarrow.parquet as pq

        from refimage_spark.index import merge as M
        from refimage_spark.index import query as Q
        from refimage_spark.index import segment as S

        idx, base = self.index, self.cfg["pages"]
        banned: list[frozenset] = [frozenset()]  # swapped whole, never mutated
        done = threading.Event()
        reader_ms: list[float] = []
        loads = [0]
        init = S.SegmentReader.__init__

        def counting_init(self_, *a, **kw):
            loads[0] += 1
            init(self_, *a, **kw)

        def reader() -> None:
            i = 0
            while not done.is_set():
                q = self.mixed[i % len(self.mixed)]
                i += 1
                ban = banned[0]
                t = time.perf_counter()
                try:
                    err = well_formed(Q.search_local(idx, q, k=K), K, ban)
                except Exception as e:  # noqa: BLE001
                    err = f"{type(e).__name__}: {e}"
                reader_ms.append((time.perf_counter() - t) * 1e3)
                self.ledger.op(err, f"reader during writes: {q!r}")

        S.SegmentReader.__init__ = counting_init
        th = threading.Thread(target=reader)
        t0 = time.perf_counter()
        th.start()
        try:
            appends, new_segs, appended = [], [], 0
            for b in range(WRITE_BATCHES):
                lo = base + b * WRITE_BATCH_PAGES
                batch = self.all_pages.where(
                    (self.row >= lo) & (self.row < lo + WRITE_BATCH_PAGES)
                )
                t = time.perf_counter()
                out = M.append_pages(self.spark, batch, idx)
                appends.append(time.perf_counter() - t)
                new_segs.append(out["new_segments"])
                appended += out["appended_docs"]
                self.ledger.op(None if out["appended_docs"] > 0 else "no docs", "append")
            live = pq.read_table(
                os.path.join(idx, "docs.parquet"), columns=["doc_id"]
            )["doc_id"].to_numpy()
            rng = np.random.default_rng([self.args.seed, 4])
            victims = rng.choice(live, DELETE_DOCS, replace=False).tolist()
            t = time.perf_counter()
            M.delete_docs(idx, victims)
            delete_s = time.perf_counter() - t
            banned[0] = frozenset(int(v) for v in victims)
            self.ledger.op(None, "delete")
            before = {r["partition_id"]: r["bytes"] for r in S.read_manifest(idx)}
            t = time.perf_counter()
            pol = M.run_merge_policy(idx, self.spark)
            policy_s = time.perf_counter() - t
            after = {r["partition_id"] for r in S.read_manifest(idx)}
            self.ledger.op(None, "merge policy")
            write_s = time.perf_counter() - t0
        finally:
            done.set()
            th.join()
            S.SegmentReader.__init__ = init
        final = Oracle(
            os.path.join(idx, "docs.parquet"),
            query_terms(mix.REFERENCE),
            tombstones=victims,
        )
        self.check_reference(idx, final, banned[0], self.dataframe_answers(idx, banned[0]))
        self.layer.update(
            {
                "merge.append_s": (statistics.median(appends), "s"),
                "merge.segments_per_append": (statistics.median(new_segs), "count"),
                "merge.delete_ms": (delete_s * 1e3, "ms"),
                "merge.policy_s": (policy_s, "s"),
                "merge.groups": (len(pol["merged_groups"]), "count"),
                "merge.bytes_rewritten": (
                    sum(b for p, b in before.items() if p not in after),
                    "B",
                ),
                "merge.reader_loads": (loads[0], "count"),
                "ingest.docs_per_s": (appended / write_s, "1/s"),
                "ingest.mixed_p50_ms": (statistics.median(reader_ms), "ms"),
                "ingest.mixed_p99_ms": (pctl(reader_ms, 0.99), "ms"),
            }
        )

    def dedup_phase(self) -> None:
        """exact / MinHash / SimHash dedup over synthetic documents; one
        untimed lap, then one timed lap whose output is checked."""
        import hashlib

        import numpy as np

        from refimage_spark.operators import dedup as D
        from refimage_spark.sources.synth import generate_documents

        a = self.args
        docs = generate_documents(
            self.spark, DEDUP_DOCS, seed=a.seed, partitions=os.cpu_count() or 4
        ).localCheckpoint(eager=True)
        for lap in range(2):
            t = time.perf_counter()
            exact = D.exact_dedup(docs).toPandas()
            t_exact = time.perf_counter() - t
            t = time.perf_counter()
            mh = D.minhash_neardup_pairs(docs, threshold=0.4).toPandas()
            t_mh = time.perf_counter() - t
            t = time.perf_counter()
            sh = D.simhash_neardup_pairs(docs, max_hamming=3).toPandas()
            t_sh = time.perf_counter() - t
        pdf = docs.select("doc_id", "text").toPandas()
        digest = pdf["text"].map(lambda s: hashlib.md5(s.encode()).hexdigest())
        want = pdf.assign(digest=digest).groupby("digest")["doc_id"].agg(["min", "count"])
        got = set(exact[["digest", "doc_id", "n_copies"]].itertuples(index=False, name=None))
        want_set = {(d, int(m), int(c)) for d, m, c in want.itertuples()}
        self.ledger.op(None if got == want_set else "survivors differ", "exact_dedup")

        text = dict(zip(pdf["doc_id"].tolist(), pdf["text"].tolist()))

        def shingles(doc):
            tk = tokens(text[doc])
            return {" ".join(tk[i : i + 3]) for i in range(max(len(tk) - 2, 0))}

        rng = np.random.default_rng([a.seed, 5])
        for i in rng.choice(len(mh), min(SAMPLE_PAIRS, len(mh)), replace=False):
            r = mh.iloc[int(i)]
            sa, sb = shingles(r.doc_a), shingles(r.doc_b)
            j = round(len(sa & sb) / len(sa | sb), 6)
            err = None if abs(j - r.jaccard) < 1e-6 and j >= 0.4 else f"jaccard {j}"
            self.ledger.op(err, f"minhash pair {r.doc_a},{r.doc_b}")
        fp_rows = D.simhash_fingerprints(docs).toPandas()
        fps = dict(zip(fp_rows["doc_id"].tolist(), fp_rows["fp"].tolist()))
        for i in rng.choice(len(sh), min(SAMPLE_PAIRS, len(sh)), replace=False):
            r = sh.iloc[int(i)]
            h = bin(fps[int(r.doc_a)] ^ fps[int(r.doc_b)]).count("1")
            err = None if h == r.hamming and h <= 3 else f"hamming {h}"
            self.ledger.op(err, f"simhash pair {r.doc_a},{r.doc_b}")
        n = docs.count()
        self.layer.update(
            {
                "dedup.exact_s": (t_exact, "s"),
                "dedup.minhash_s": (t_mh, "s"),
                "dedup.simhash_s": (t_sh, "s"),
                "dedup.minhash_pairs": (len(mh), "count"),
                "dedup.simhash_pairs": (len(sh), "count"),
                "dedup.docs_per_s": (n / (t_exact + t_mh + t_sh), "1/s"),
            }
        )

    # ---- teardown --------------------------------------------------------------

    def close(self) -> None:
        """Stop the serving pools, their forkserver, Spark and its JVM, then
        wait until every process this run started has ended. Whatever the
        orderly stop leaves (it may raise, or a worker spawn cut short by an
        exception may be unknown to its pool) is killed after 30 s."""
        import signal

        started = descendants(os.getpid())
        try:
            self.stop_services()
        finally:
            deadline = time.monotonic() + 30
            while left := [p for p in started if alive(p)]:
                if time.monotonic() > deadline:
                    for pid in left:
                        try:
                            os.kill(pid, signal.SIGKILL)
                        except ProcessLookupError:
                            pass
                time.sleep(0.2)

    def stop_services(self) -> None:
        import multiprocessing.forkserver as fs
        import multiprocessing.resource_tracker as rt
        import signal

        q = sys.modules.get("refimage_spark.index.query")
        if q is not None:
            if q._SERVE_POOL is not None:
                q._SERVE_POOL.shutdown(wait=True, cancel_futures=True)
            for sh in q._SERVE_SHARDS or []:
                sh.ex.shutdown(wait=True, cancel_futures=True)
        server = fs._forkserver._forkserver_pid
        if server is not None:
            # workers no pool knows of; the forkserver waits for them
            for pid in descendants(server):
                os.kill(pid, signal.SIGKILL)
        fs._forkserver._stop()
        rt._resource_tracker._stop()
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            gw.shutdown()
            gw.proc.stdin.close()  # the JVM exits when its stdin closes
            gw.proc.wait(timeout=60)

WRITE_METRICS = [
    "merge.append_s",
    "merge.segments_per_append",
    "merge.delete_ms",
    "merge.policy_s",
    "merge.groups",
    "merge.bytes_rewritten",
    "merge.reader_loads",
    "ingest.docs_per_s",
    "ingest.mixed_p50_ms",
    "ingest.mixed_p99_ms",
]
DEDUP_METRICS = [
    "dedup.exact_s",
    "dedup.minhash_s",
    "dedup.simhash_s",
    "dedup.minhash_pairs",
    "dedup.simhash_pairs",
    "dedup.docs_per_s",
]
LAYER_UNITS = {
    "merge.append_s": "s",
    "merge.segments_per_append": "count",
    "merge.delete_ms": "ms",
    "merge.policy_s": "s",
    "merge.groups": "count",
    "merge.bytes_rewritten": "B",
    "merge.reader_loads": "count",
    "ingest.docs_per_s": "1/s",
    "ingest.mixed_p50_ms": "ms",
    "ingest.mixed_p99_ms": "ms",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.simhash_s": "s",
    "dedup.minhash_pairs": "count",
    "dedup.simhash_pairs": "count",
    "dedup.docs_per_s": "1/s",
}


def abstract_unix_sockets() -> None:
    """Bind multiprocessing's AF_UNIX listeners (the serving pool's
    forkserver) in Linux's abstract socket namespace, as Python 3.12+
    does, instead of as a file under TMPDIR. TMPDIR is inside the
    checkout, and from a deep checkout that file's path passes the
    108-byte limit of a socket path, so the pool cannot start."""
    import itertools
    import multiprocessing.connection as mpc
    from multiprocessing import util

    if not getattr(util, "abstract_sockets_supported", False):
        return
    arbitrary, seq = mpc.arbitrary_address, itertools.count()

    def address(family):
        if family == "AF_UNIX":
            return f"\0perfbench-{os.getpid()}-{next(seq)}"
        return arbitrary(family)

    mpc.arbitrary_address = address


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "refimage_spark", "index", "query.py")):
        print("perfbench: run from the repository root (refimage_spark/ not found)",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # registered before multiprocessing is imported, so it runs after
    # multiprocessing's own exit handlers have cleaned their temp dirs
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    abstract_unix_sockets()
    # keep the JVMs' temp files (native libraries, perf data) in the
    # checkout; quoted, as the checkout path may hold spaces
    os.environ["JAVA_TOOL_OPTIONS"] = f'-Djava.io.tmpdir="{work}/tmp" -XX:-UsePerfData'
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the session's JVM heap (session.py's knob): 2 GB is ample for 10k pages
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    sys.path.insert(0, root)
    bench = Bench(args, root, work)
    try:
        bench.setup()
        metrics = bench.traced() if args.trace else bench.e2e()
    finally:
        bench.close()
        bench.log("stopped")
    for name, reason in sorted(bench.unmeasured.items()):
        print(f"unmeasured {name}: {reason}")
    led = bench.ledger
    print(
        json.dumps(
            {
                "correct": led.failed == 0,
                "attempted": led.attempted,
                "failed": led.failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
