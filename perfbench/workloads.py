"""The benchmark's workloads: set-up, warm-up and one closed-loop cycle.

One client: each request is sent when the previous one returned. A
request is one call into the engine's public API followed by the
action that materialises its result; its output is checked, untimed,
before the next request. A traced run's attribution-by-difference
actions run in that untimed check too.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
import zlib

import numpy as np
import pandas as pd

from perfbench import inputs
from perfbench.oracle import (
    Oracle, check_decide, check_topk, ranked, same_ranking,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.codec import (
    decode_block, encode_block,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators import (
    dedup, maintenance, segments, topk, wand,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.batch_match import (
    batch_match_resumable,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
    doc_term_stage, explode_doc_terms, with_doc_id,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
    local_rows_df, spread_input,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.sources.corpus import (
    distributed_corpus,
)

N_DOCS = 600
MAX_LEN = 600
BUILD_REPS = 2
K = 10
THRESHOLD = 5.0
DEDUP_RECALL_FLOOR = 0.9
DEDUP_THRESHOLD_MICRO = 800_000  # minhash_lsh_pairs' default 0.8
TAIL_MIN_SAMPLES = 100  # ten samples beyond p90
Q_SCHEMA = "query_id string, text string"
CORPUS_COLS = ["repo", "path", "commit", "lang", "content"]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def tail(xs: list[float]) -> tuple[float | None, float | None]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; (None, None) when that percentile would be below
    p90, which is no tail."""
    n = len(xs)
    if n < TAIL_MIN_SAMPLES:
        return None, None
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n


def known_ok(got: list, src) -> bool:
    """A query carrying a doc's discriminative term ranks that doc
    first; an out-of-vocabulary / dead-term query returns nothing."""
    return (not got) if src is None else bool(got) and got[0][0] == int(src)


class Workload:
    """Shared set-up: corpus shard, BUILD_REPS index builds, oracle."""

    name = ""

    def __init__(self, spark, scratch: str, seed: int, tracer):
        self.spark, self.scratch, self.seed, self.tr = spark, scratch, seed, tracer
        self.samples: dict[str, list[tuple[float, int]]] = {}
        self.attempted = 0
        self.failed = 0
        self.setup_detail: dict[str, object] = {}
        self.blocks = [0, 0]  # wand blocks decoded / total, summed
        self.op_blocks: dict[str, list[int]] = {}  # the same per request
        self.wand_results: dict[str, dict] = {}  # op -> ranked result

    # -- request runner ----------------------------------------------------
    def run(self, kind: str, fn, record: bool = True) -> None:
        """Time ``fn``, which returns (items, verify); then, untimed,
        ``verify()`` checks the output and returns the number of wrong
        answers. A raise or a wrong answer fails the operation."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            items, verify = fn()
            dt = time.perf_counter() - t0
            bad = verify()
        except Exception:  # a raising operation is a failed one
            traceback.print_exc()
            self.failed += 1
            return
        if bad:
            print(f"perfbench: {kind}: {bad} wrong result(s)", file=sys.stderr)
            self.failed += 1
        if record:
            self.samples.setdefault(kind, []).append((dt, items))

    def seconds(self, kind: str) -> list[float]:
        return [s for s, _ in self.samples.get(kind, [])]

    def rate(self, kind: str) -> float | None:
        s = self.samples.get(kind)
        return sum(n for _, n in s) / sum(t for t, _ in s) if s else None

    # -- set-up --------------------------------------------------------------
    def setup(self) -> None:
        spark, d = self.spark, self.scratch
        self.corpus_path = f"{d}/corpus"
        t0 = time.perf_counter()
        distributed_corpus(spark, N_DOCS, seed=self.seed, max_len=MAX_LEN)\
            .write.mode("overwrite").parquet(self.corpus_path)
        docs = inputs.load_corpus(self.corpus_path)
        ids = dict(
            with_doc_id(spark.read.parquet(self.corpus_path))
            .select("path", "doc_id").collect()
        )
        docs["doc_id"] = docs["path"].map(ids)
        self.docs = docs
        self.setup_detail["inputs_s"] = time.perf_counter() - t0
        builds = []
        for r in range(BUILD_REPS):
            index_dir = f"{d}/index{r}"
            builds.append(self.build(index_dir, f"setup.build{r}"))
            if r:
                shutil.rmtree(f"{d}/index{r - 1}")
        self.index_dir = index_dir
        self.build_s = builds
        self.text_bytes = int(docs["content"].str.len().sum())
        self.index_bytes = dir_bytes(index_dir)
        self.index = segments.SegmentIndex.open(spark, index_dir)
        if self.tr.enabled:
            self.codec_rates()

    def build(self, index_dir: str, op: str) -> float:
        spark, tr = self.spark, self.tr
        corpus = spark.read.parquet(self.corpus_path)
        with tr.span("segments.build_segment_index", op) as sp:
            t0 = time.perf_counter()
            rep = segments.build_segment_index(spark, corpus, index_dir)
            dt = time.perf_counter() - t0
        if rep.snapshot_version is None or rep.n_docs != N_DOCS:
            raise RuntimeError(f"build committed {rep.n_docs} docs, want {N_DOCS}")
        if tr.enabled:
            b_start = sp["end"] - rep.timings["phase_b_segments"]
            a = tr.add_span("segments.build_a", sp["start"], b_start, sp, op)
            b = tr.add_span("segments.build_b", b_start, sp["end"], sp, op)
            with tr.span("index_build", op) as ib:
                noop(explode_doc_terms(doc_term_stage(
                    with_doc_id(spread_input(corpus)), with_positions=False),
                    with_positions=False))
            tr.measure("index_build", [ib])
            tr.measure("segments.build_a", [a], [ib])
            tr.measure("segments.build_b", [b])
        return dt

    def codec_rates(self, n_blocks: int = 2000, repeats: int = 5) -> None:
        """codec throughput on blocks sampled from the built index."""
        payloads = [bytes(r["payload"]) for r in
                    self.index.segments().select("payload").limit(n_blocks).collect()]
        nbytes = sum(map(len, payloads)) * repeats
        t0 = time.perf_counter()
        for _ in range(repeats):
            dec = [decode_block(p) for p in payloads]
        t_dec = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(repeats):
            enc = [encode_block(*x) for x in dec]
        t_enc = time.perf_counter() - t0
        if enc != payloads:
            raise RuntimeError("codec round trip changed a block")
        self.tr.extra("codec.decode_mb_per_s", nbytes / 1e6 / t_dec)
        self.tr.extra("codec.encode_mb_per_s", nbytes / 1e6 / t_enc)

    def qdf(self, q: pd.DataFrame):
        return local_rows_df(self.spark, list(zip(q["query_id"], q["text"])), Q_SCHEMA)

    def mark_known(self, q: pd.DataFrame, expected: dict) -> None:
        """Keep a query's known answer (``src``) only where DuckDB also
        has the source doc as the unique best: a random window can,
        rarely, be won by another doc on its shared terms. Such queries
        get -1 and are checked against DuckDB alone."""
        def keep(qid, s):
            if s is None or s == -1:
                return s
            e = expected[qid]
            unique_best = e and e[0][0] == s and (len(e) == 1 or e[1][1] < e[0][1])
            return s if unique_best else -1
        q["src"] = pd.Series([keep(a, b) for a, b in zip(q["query_id"], q["src"])],
                             index=q.index, dtype=object)

    # -- shared request type -------------------------------------------------
    def wand_request(self, q: pd.DataFrame, expected: dict, op: str, kind: str):
        """wand_topk over ``q``, checked against DuckDB and, where a
        query has one, against its known answer."""
        def fn():
            with self.tr.span("wand", op) as sp:
                rows = wand.wand_topk(self.index, self.qdf(q), k=K).collect()

            def verify():
                got = ranked(rows)
                self.wand_results[op] = got
                if self.tr.enabled:
                    self.tr.measure("wand", [sp])
                    per_q = {r["query_id"]: (r["blocks_decoded"], r["blocks_total"])
                             for r in rows}
                    n = [sum(a for a, _ in per_q.values()), sum(b for _, b in per_q.values())]
                    self.op_blocks[op] = n
                    self.blocks = [self.blocks[0] + n[0], self.blocks[1] + n[1]]
                return check_topk(rows, expected, K, q["query_id"]) + sum(
                    not known_ok(got.get(qid, []), src)
                    for qid, src in zip(q["query_id"], q["src"]) if src != -1)
            return len(q), verify
        return kind, fn

    def end_to_end(self, setup_s: float, peak_rss_mb: float) -> dict:
        """Metrics every workload reports (run.py picks the bounded ones)."""
        s = self.seconds("single")
        return {
            "setup_s": setup_s,
            "build_docs_per_s": N_DOCS / statistics.median(self.build_s),
            "space_amp": self.space_amp(),
            "peak_rss_mb": peak_rss_mb,
            "query_p50_s": statistics.median(s) if s else None,
            "wand_qps": self.rate("wand_short"),
        }

    def writes(self):
        """Timed requests that must precede the warm-up (none by default)."""
        return iter(())

    def warmup(self):
        """Untimed: three cycles of the window's requests; with fewer,
        single-query latency still falls, often in one step, inside the
        window. A traced run sends exactly these too, so the tracing
        overhead compares the same work."""
        for c in (0, -1, -2):
            yield from self.cycle(c)

    def after(self) -> None:
        """Work after the measured window (a traced run's one-shot
        requests; none by default)."""

    def finish(self) -> None:
        if self.blocks[1]:
            self.tr.extra("wand.blocks_decoded_ratio", self.blocks[0] / self.blocks[1])


class Search(Workload):
    """Read path on a freshly built single-layer index."""

    name = "search"

    def setup(self) -> None:
        super().setup()
        rng = np.random.RandomState(self.seed + 1)
        docs = self.docs
        self.singles = inputs.short_queries(rng, docs, 48, "s", nil_share=0, noisy_share=0)
        self.short = [inputs.short_queries(rng, docs, 32, f"b{i}_") for i in range(3)]
        self.long = [inputs.long_queries(rng, docs, 16, f"l{i}_") for i in range(2)]
        self.match = [inputs.short_queries(rng, docs, 32, f"m{i}_") for i in range(2)]
        t0 = time.perf_counter()
        allq = pd.concat([self.singles, *self.short, *self.long, *self.match])
        self.expected = Oracle(docs).expected(allq)
        self.setup_detail["oracle_s"] = time.perf_counter() - t0
        for q in [self.singles, *self.short, *self.match]:
            self.mark_known(q, self.expected)

    def cycle(self, c: int):
        """Each cycle: single, short WAND batch, single (verbatim
        8-token singles, so their latency is one population)."""
        def single(i):
            j = (c * 2 + i) % len(self.singles)
            return self.wand_request(self.singles.iloc[[j]], self.expected,
                                     f"c{c}.single{i}", "single")

        short = self.short[c % len(self.short)]
        yield single(0)
        yield self.wand_request(short, self.expected, f"c{c}.short", "wand_short")
        yield single(1)

    def after(self) -> None:
        """A traced run then sends the brute, long and match shapes:
        untimed on 4-query slices first, then once each, timed. The
        untraced run leaves them out so that its window, within the
        time budget, holds enough of the cheap reads behind the bounded
        metrics."""
        if not self.tr.enabled:
            return
        for warm in (True, False):
            tag, n = ("w", 4) if warm else ("x", None)
            short, long_, match = (pool[0].iloc[:n] for pool in
                                   (self.short, self.long, self.match))
            # the brute check compares with WAND on the same batch
            self.run(*self.wand_request(short, self.expected, f"{tag}.short", "wand_short"),
                     record=False)
            self.run("brute_short", self.brute_request(short, f"{tag}.short"), not warm)
            self.run(*self.wand_request(long_, self.expected, f"{tag}.long", "wand_long"),
                     record=not warm)
            self.run("match", self.match_request(match, tag), not warm)

    def brute_request(self, q: pd.DataFrame, op: str):
        """segment_topk on the batch WAND just answered: checked against
        DuckDB and rank for rank against the WAND result."""
        tr = self.tr

        def fn():
            sdf = self.qdf(q)
            with tr.span("segment_topk", op) as sp:
                rows = segments.segment_topk(self.index, sdf, k=K).collect()

            def verify():
                if tr.enabled:
                    qt = topk.query_terms(sdf)
                    with tr.span("segments.scan", op) as s1:
                        noop(self.index.blocks_for_query_terms(qt))
                    with tr.span("segments.decode", op) as s2:
                        noop(self.index.postings_for_query_terms(qt))
                    tr.measure("segments.scan", [s1])
                    tr.measure("segments.decode", [s2], [s1])
                    tr.measure("segments.rank", [sp], [s2])
                    tr.extra("segments.scan.blocks_per_query",
                             self.index.blocks_for_query_terms(qt).count() / len(q))
                return check_topk(rows, self.expected, K, q["query_id"]) + (not same_ranking(
                    ranked(rows), self.wand_results.pop(op, {}), q["query_id"]))
            return len(q), verify
        return fn

    def match_request(self, q: pd.DataFrame, tag: str):
        """Resumable batch match, then the "doc or Nil" decision."""
        tr = self.tr
        out = f"{self.scratch}/match/{tag}"
        src = dict(zip(q["query_id"], q["src"]))

        def fn():
            sdf = self.qdf(q)
            with tr.span("batch_match", f"{tag}.match") as bm:
                res = batch_match_resumable(self.index, sdf, out, k=K, n_groups=4)
            with tr.span("topk.decide", f"{tag}.match") as dc:
                rows = topk.decide(res, sdf, THRESHOLD).collect()

            def verify():
                if tr.enabled:
                    with tr.span("wand", f"{tag}.match.inner") as w:
                        noop(wand.wand_topk(self.index, sdf, k=K))
                    tr.measure("batch_match", [bm], [w])
                    tr.measure("topk.decide", [dc])
                bad = check_decide(rows, self.expected, THRESHOLD) + (len(rows) != len(q))
                for r in rows:  # Nil for OOV; a match is never another doc
                    s, got = src[r["query_id"]], r["matched_doc_id"]
                    bad += (s is None and got is not None) or (
                        s not in (None, -1) and got is not None and got != s)
                return bad
            return len(q), verify
        return fn

    def space_amp(self) -> float:
        return self.index_bytes / self.text_bytes

    def metrics(self) -> dict:
        t, pct = tail(self.seconds("single"))
        return {
            "query_tail_s": t, "query_tail_pct": pct,
            "query_samples": len(self.seconds("single")),
            "brute_qps": self.rate("brute_short"),
            "long_wand_qps": self.rate("wand_long"),
            "match_qps": self.rate("match"),
        }


class Upsert(Workload):
    """Write path: a delta update, then reads of the layered snapshot
    beside it; traced runs also near-dup scan the batch and compact."""

    name = "upsert"

    def setup(self) -> None:
        super().setup()
        self.rng = np.random.RandomState(self.seed + 2)
        self.alive = {r["path"]: r for r in self.docs.to_dict("records")}
        self.touched: list[dict] = []   # docs the last update wrote
        self.dead_uniq: list[str] = []  # terms the last update removed
        self.recall: list[float] = []
        t0 = time.perf_counter()
        self.oracle = Oracle(self.docs)
        self.setup_detail["oracle_s"] = time.perf_counter() - t0

    def writes(self):
        """Apply one update batch, near-dup copies included, as a delta
        layer. It runs once per run, before the warm-up, and counts in
        set-up; its timing includes the first-call cost."""
        adds, deletes, self.injected = inputs.update_batch(self.rng, self.alive, 1,
                                                           max_len=MAX_LEN)
        self.doc_ids(adds)
        self.adds = adds
        yield "update", self.update_request(adds, deletes)
        self.apply_state(adds, deletes)

    def cycle(self, c: int):
        """Reads of the layered snapshot: a verbatim window of a doc the
        update wrote, a short WAND batch, a window of any live doc."""
        touched = pd.DataFrame(self.touched)
        q = self.queries(f"c{c}s0", 1, 0, 0, pool=touched)
        yield self.wand_request(q, self.cur_expected, f"c{c}.single0", "single")
        q = self.queries(f"c{c}b", 32, 10, 6)
        yield self.wand_request(q, self.cur_expected, f"c{c}.short", "wand_short")
        q = self.queries(f"c{c}s1", 1, 0, 0)
        yield self.wand_request(q, self.cur_expected, f"c{c}.single1", "single")

    def after(self) -> None:
        """A traced run then near-dup scans the update batch and
        compacts the update layer. The untraced run skips both (about
        7 s and 5 s) to fit the time budget, so its space_amp counts the
        delta layer's bytes; the compacted layout is the build's, whose
        bytes search bounds."""
        if self.tr.enabled:
            self.run("dedup", self.dedup_request(self.adds, self.injected))
            self.run("compact", self.compact_request())

    def doc_ids(self, rows: list[dict]) -> None:
        """The engine's doc ids of a batch (for the checks; untimed)."""
        pdf = pd.DataFrame(rows)[["repo", "path", "commit"]]
        got = dict(with_doc_id(self.spark.createDataFrame(pdf))
                   .select("path", "doc_id").collect())
        for r in rows:
            r["doc_id"] = got[r["path"]]

    def dedup_request(self, adds, injected):
        """Near-dup scan of the update batch: LSH pairs, then clusters.
        Nothing is dropped: the batch went into the index whole."""
        frame = local_rows_df(self.spark, [(r["doc_id"], r["content"]) for r in adds],
                              "doc_id long, content string")
        by_path = {r["path"]: r["doc_id"] for r in adds}
        tr = self.tr

        def fn():
            with tr.span("dedup.minhash_lsh_pairs", "end.dedup") as sp:
                pairs = dedup.minhash_lsh_pairs(frame, "doc_id", "content").collect()
            edges = local_rows_df(self.spark, [(p["doc_a"], p["doc_b"]) for p in pairs],
                                  "doc_a long, doc_b long")
            with tr.span("dedup.near_dup_clusters", "end.dedup") as cl:
                clusters = dedup.near_dup_clusters(edges).collect()

            def verify():
                if tr.enabled:
                    with tr.span("dedup.shingles", "end.dedup") as s1:
                        noop(dedup.shingles(frame, "doc_id", "content"))
                    with tr.span("dedup.minhash", "end.dedup") as s2:
                        cand = dedup.minhash_lsh_pairs(frame, "doc_id", "content",
                                                       verify=False).collect()
                    tr.measure("dedup.shingles", [s1])
                    tr.measure("dedup.minhash", [s2], [s1])
                    tr.measure("dedup.verify", [sp], [s2])
                    tr.measure("dedup.clusters", [cl])
                    if cand:
                        tr.extra("dedup.verified_per_candidate", len(pairs) / len(cand))
                found = {frozenset((p["doc_a"], p["doc_b"])) for p in pairs}
                hit = sum(frozenset((by_path[a], by_path[b])) in found for a, b in injected)
                recall = hit / len(injected) if injected else 1.0
                self.recall.append(recall)
                in_pairs = {d for p in pairs for d in (p["doc_a"], p["doc_b"])}
                return int(recall < DEDUP_RECALL_FLOOR) + sum(
                    p["jaccard_micro"] < DEDUP_THRESHOLD_MICRO for p in pairs) + (
                    {r["doc_id"] for r in clusters} != in_pairs)
            return len(adds), verify
        return fn

    def update_request(self, adds, deletes):
        """One delta update: the batch's adds (new docs and overwrites
        by key) plus deletes by key."""
        tr = self.tr
        before = dir_bytes(self.index_dir)

        def fn():
            add_df = local_rows_df(self.spark, [tuple(r[k] for k in CORPUS_COLS) for r in adds],
                                   ", ".join(f"{k} string" for k in CORPUS_COLS))
            del_df = local_rows_df(self.spark, [tuple(r.values()) for r in deletes],
                                   "repo string, path string, commit string")
            with tr.span("maintenance.update", "pre.update") as sp:
                rep = maintenance.apply_updates(self.spark, self.index_dir, add_corpus=add_df,
                                                delete_keys=del_df, mode="delta")

            def verify():
                if tr.enabled:
                    tr.measure("maintenance.update", [sp])
                    tr.extra("maintenance.bytes_written_per_input_byte",
                             (dir_bytes(self.index_dir) - before)
                             / sum(len(r["content"]) for r in adds))
                want_docs = (len(self.alive) - len(deletes)
                             + sum(r["path"] not in self.alive for r in adds))
                return int(rep.n_docs != want_docs)
            return len(adds) + len(deletes), verify
        return fn

    def apply_state(self, adds, deletes) -> None:
        """Mirror the update in the benchmark's own doc map (untimed)."""
        self.dead_uniq = []
        self.touched = list(adds)
        for r in adds:
            old = self.alive.get(r["path"])
            if old is not None:
                self.dead_uniq.append(old["uniq"])
            self.alive[r["path"]] = r
        for k in deletes:
            self.dead_uniq.append(self.alive.pop(k["path"])["uniq"])
        self.oracle = Oracle(pd.DataFrame(list(self.alive.values())))
        self.index = segments.SegmentIndex.open(self.spark, self.index_dir)

    def queries(self, tag: str, n: int, n_touched: int, n_dead: int,
                pool: pd.DataFrame | None = None) -> pd.DataFrame:
        """Discriminative-term queries for docs the update wrote (each
        must return exactly its doc) and for terms it removed (must
        return nothing), topped up with 8-token windows of ``pool``
        (default: every live doc; verbatim when ``pool`` is given).
        DuckDB's answers over the live docs go to cur_expected."""
        rng = np.random.RandomState(zlib.crc32(f"{self.seed}/{tag}".encode()))
        touched = [self.touched[i] for i in rng.permutation(len(self.touched))[:n_touched]]
        dead = [self.dead_uniq[i] for i in rng.permutation(len(self.dead_uniq))[:n_dead]]
        rows = [(f"{tag}u{i}", r["uniq"], "uniq", r["doc_id"]) for i, r in enumerate(touched)]
        rows += [(f"{tag}x{i}", u, "dead", None) for i, u in enumerate(dead)]
        if pool is None:
            fill = inputs.short_queries(rng, pd.DataFrame(list(self.alive.values())),
                                        n - len(rows), f"{tag}w")
        else:
            fill = inputs.short_queries(rng, pool, n - len(rows), f"{tag}w",
                                        nil_share=0, noisy_share=0)
        q = pd.concat([inputs.query_frame(rows), fill], ignore_index=True)
        self.cur_expected = self.oracle.expected(q)
        self.mark_known(q, self.cur_expected)
        return q

    def compact_request(self):
        tr = self.tr

        def fn():
            with tr.span("maintenance.compact", "end.compact") as sp:
                maintenance.compact(self.spark, self.index_dir)

            def verify():
                if tr.enabled:
                    tr.measure("maintenance.compact", [sp])
                self.index = segments.SegmentIndex.open(self.spark, self.index_dir)
                return int(self.index.has_deltas) + int(self.index.n_docs != len(self.alive))
            return 1, verify
        return fn

    def space_amp(self) -> float:
        """Index bytes after vacuuming old snapshots, per live text byte."""
        maintenance.vacuum(self.index_dir, keep_last=1)
        live = sum(len(r["content"]) for r in self.alive.values())
        return dir_bytes(self.index_dir) / live

    def metrics(self) -> dict:
        u, cp = self.seconds("update"), self.seconds("compact")
        return {
            "layered_wand_qps": self.rate("wand_short"),
            "update_p50_s": statistics.median(u) if u else None,
            "compact_s": statistics.median(cp) if cp else None,
            "dedup_docs_per_s": self.rate("dedup"),
            "dedup_recall_min": min(self.recall) if self.recall else None,
        }


WORKLOADS = {w.name: w for w in (Search, Upsert)}
