"""The repository's benchmark: one seeded workload per run, closed loop,
one client, every answer checked against ``tests/oracle.py``.

    python3 perfbench/run.py --workload search-broad --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the lines
before it print every metric by name with its unit. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run
(see README.md in this directory). Scratch files live under
``.perfbench_work/`` and are removed on exit; a traced run writes its spans
to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

# the package and the oracle come from the checkout: without them this
# fails here, before any output
from information_retrieval_spark.fixtures import write_corpus_parquet  # noqa: E402
from tests.oracle import Oracle  # noqa: E402

from harness import (  # noqa: E402
    Tracer,
    failed_frac,
    ranked_by_query,
    same_answer,
    self_times,
    tail,
)
from inputs import N_DOCS, Inputs  # noqa: E402

SECTIONS = {"title": "path", "abstract": "content"}
#: the oracle's fused weight for the engines' default (abstract 0.2, title 0.8)
ORACLE_WEIGHT = 0.2
#: the index's stop list: the base corpus's ten most frequent terms. The
#: index pins it at build; later writes do not re-derive it (see
#: ``PinnedStopOracle``)
STOP_K = 10
K = 10
#: ingest-mixed's tiered auto-compaction threshold. With 2, every write
#: after the first leaves 3 segments and merges the two deltas back to
#: one, so each read sees the same shape (base + one delta + base
#: tombstones) and each write pays a compaction: after one untimed write
#: the loop is stationary, whatever a run's length
AUTO_COMPACT_SEGMENTS = 2
#: untimed batches before the loop, so that lazy set-up and JIT warm-up
#: land in setup_s rather than in the first timed batches
WARMUP_BATCHES = 2
DRIVER_MEM = "2g"
BUILD_STAGES = ("postings_all", "postings", "packed", "term_df", "vocab",
                "stop", "lineage")


class PinnedStopOracle(Oracle):
    """The oracle with a given stop list. ``Oracle`` derives its stop list
    from the docs it is given; an index keeps the stop list of its base
    build through every later write, and after a re-crawl the two differ
    (the fixture's head terms are near-tied in frequency). Every derived
    table of ``Oracle.__init__`` reads ``self.stop_tokens``, so pinning
    the attribute pins them all."""

    def __init__(self, docs, stop_tokens, **kw):
        self._pinned = frozenset(stop_tokens)
        super().__init__(docs, **kw)

    @property
    def stop_tokens(self):
        return self._pinned

    @stop_tokens.setter
    def stop_tokens(self, _derived):
        pass


class Run:
    """State of one benchmark run: inputs, Spark, the index, the tracer and
    every measurement taken."""

    def __init__(self, args, workdir: str):
        self.args = args
        self.workdir = workdir
        self.cpus = len(os.sched_getaffinity(0))
        t = time.perf_counter()
        self.inp = Inputs(args.seed)
        self.corpus_path = os.path.join(workdir, "corpus.parquet")
        write_corpus_parquet(self.corpus_path, len(self.inp.rows), self.inp.rows)
        self.gen_s = time.perf_counter() - t
        self.cpu_probe_s = cpu_probe()
        self.index_dir = os.path.join(workdir, "index")
        self.spark = None
        self.tracer: Tracer | None = None
        self.extra: dict[str, list[float]] = {}
        self.read_lat: list[tuple[float, bool]] = []  # (seconds, traced)
        self.write_lat: list[float] = []
        self.queries = 0
        self.attempted = 0
        self.failed = 0
        self.checks: list[tuple] = []  # (docs, [(query_id, query, mode)], rows)
        self.last_texts: list[str] = []  # of the last broad batch
        self._shard_terms: tuple = (None, None, None)
        self.size_ratio: float | None = None

    # ---------------------------------------------------------- plumbing

    def span(self, name: str, op_id=None):
        return self.tracer.span(name, op_id) if self.tracer else nullcontext()

    def op_span(self, name: str, op_id, traced: bool):
        return self.tracer.span(name, op_id) if traced else nullcontext()

    def note(self, name: str, value: float) -> None:
        self.extra.setdefault(name, []).append(value)

    def start_spark(self) -> None:
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        tmp = os.path.join(self.workdir, "tmp")
        os.makedirs(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.workdir, "spark-local")
        os.environ["TMPDIR"] = tmp
        # the launcher JVM that spark-submit starts first: no /tmp perf data
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        import tempfile

        tempfile.tempdir = tmp
        from information_retrieval_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=2 * self.cpus,
            extra_conf={
                # C1 only: a run is one short-lived JVM, and C2 compilation
                # kept shifting batch latency through the whole loop. A
                # fixed heap keeps peak RSS independent of G1's resizing.
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                    f" -XX:TieredStopAtLevel=1 -Xms{DRIVER_MEM}",
                "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
                # the tracer reads job and stage records back from the
                # status store: keep every one of a run
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.session_start_s = time.perf_counter() - t
        if self.args.trace:
            self.tracer = Tracer(self.spark.sparkContext)

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        proc = SparkContext._gateway.proc
        self.spark.stop()
        # the JVM exits when its stdin closes; its Python workers follow it
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def build(self) -> None:
        from information_retrieval_spark.index.build import IndexBuilder

        corpus = self.spark.read.parquet(self.corpus_path)
        with self.span("build"):
            t = time.perf_counter()
            self.manifest = IndexBuilder(
                self.spark, self.index_dir, SECTIONS, tokenizer="code",
                stop_k=STOP_K, category_col="lang",
            ).build(corpus)
            self.build_s = time.perf_counter() - t

    def timed_loop(self, op) -> None:
        """Closed loop, one client: ``op(i, traced)`` back to back until the
        run's seconds are spent. In a traced run every other op is traced,
        and at least two run, so traced and untraced ops of the same run
        give the tracing overhead."""
        self.t_first_op = time.perf_counter()
        deadline = self.t_first_op + self.args.seconds
        min_ops = 2 if self.tracer else 1
        i = 0
        while i < min_ops or time.perf_counter() < deadline:
            op(i, bool(self.tracer) and i % 2 == 0)
            i += 1
        self.loop_s = time.perf_counter() - self.t_first_op

    def attempt(self, fn, *a):
        """Run one op; an exception counts as a failed op, not a crash."""
        self.attempted += 1
        try:
            return fn(*a)
        except Exception:  # the loop must go on and report it
            self.failed += 1
            print("op failed:", file=sys.stderr)
            traceback.print_exc()
            return None

    # -------------------------------------------------------- the engine

    def spell_texts(self, texts: list[str], bigram_dict) -> list[str]:
        from information_retrieval_spark.query.spell import correct_text

        with self.span("spell.correct"):
            return [correct_text(bigram_dict, t) for t in texts]

    def bigram_dict(self):
        from information_retrieval_spark.query.spell import bigram_dict_if_small

        with self.span("spell.dict"):
            return bigram_dict_if_small(self.spark, self.index_dir)

    def specs(self, texts, methods, mode, spell):
        from information_retrieval_spark.query.engine import QuerySpec

        return [
            QuerySpec(slot, text, method, K, spell=spell, match_mode=mode)
            for slot, (text, method) in enumerate(zip(texts, methods))
        ]

    def ask(self, engine, layer: str, specs) -> list:
        with self.span(f"{layer}.search"):
            df = engine.search(specs)
        with self.span(f"{layer}.collect"):
            return df.collect()

    def broad_batch(self, wand, batch, traced: bool, bigram_dict):
        """One search-broad op: exact okapi25, spell on, k=10."""
        texts = [self.inp.broad_pool[i].text for i in batch]
        if traced:  # spell split out so it shows as its own layer
            texts = self.spell_texts(texts, bigram_dict)
        rows = self.ask(wand, "wand", self.specs(
            texts, ["okapi25"] * len(texts), "exact", not traced))
        self.last_texts = texts
        return [(slot, self.inp.broad_pool[i], "exact") for slot, i in enumerate(batch)], rows

    def ingest_read(self, batch, traced: bool):
        """One ingest-mixed read: a fresh WandEngine on the current
        snapshot, then one broad batch (exact okapi25, spell on, k=10)."""
        from information_retrieval_spark.query.wand import WandEngine

        with self.span("wand.open"):
            wand = WandEngine(self.spark, self.index_dir)
        try:
            # traced: the engine's own dict build shows as spell.dict
            bd = self.bigram_dict() if traced else None
            return self.broad_batch(wand, batch, traced, bd)
        finally:
            wand.close()

    def selective_read(self, okapi, tfidf):
        """One selective read, reference-parity settings (prefix mode,
        spell on): okapi25 to a fresh WandEngine, ltn-lnn / ltc-lnc to a
        fresh SearchEngine. Only traced (``selective_probe``), so spell
        runs as its own span, with each engine's own dictionary."""
        from information_retrieval_spark.query.engine import SearchEngine
        from information_retrieval_spark.query.wand import WandEngine

        pool = self.inp.selective_pool
        out_q, out_rows = [], []
        with self.span("wand.open"):
            wand = WandEngine(self.spark, self.index_dir)
        try:
            with self.span("engine.open"):
                eng = SearchEngine(self.spark, self.index_dir)
            for layer, engine, idx, base in (("wand", wand, okapi, 0),
                                             ("engine", eng, tfidf, 100)):
                texts = self.spell_texts([pool[i].text for i in idx],
                                         self.bigram_dict())
                specs = self.specs(texts, [pool[i].method for i in idx],
                                   "prefix", False)
                for s in specs:
                    s.query_id += base
                out_rows += self.ask(engine, layer, specs)
                out_q += [(base + s, pool[i], "prefix") for s, i in enumerate(idx)]
        finally:
            wand.close()
        return out_q, out_rows

    def count_shard(self) -> None:
        """Blocks and postings of the packed table the last broad batch
        read: its query terms after spell and stop filtering (exact mode).
        Counted after the op, outside its spans, from the traced text
        (spell already applied)."""
        from pyspark.sql import functions as F

        from information_retrieval_spark.index.catalog import (
            Catalog,
            read_packed,
            read_table,
        )
        from information_retrieval_spark.tokenize import code_terms

        version = Catalog(self.index_dir).current_version()
        if self._shard_terms[0] != version:
            per_term = {
                r.term: (r.blocks, r.postings)
                for r in read_packed(self.spark, self.index_dir).groupBy("term")
                .agg(F.count("*").alias("blocks"), F.sum("n").alias("postings"))
                .collect()
            }
            stop = {r.term for r in
                    read_table(self.spark, self.index_dir, "stopwords").collect()}
            self._shard_terms = (version, per_term, stop)
        _, per_term, stop = self._shard_terms
        terms = {t for text in self.last_texts for t in code_terms(text)
                 if t not in stop and t in per_term}
        self.note("index.shard_blocks", sum(per_term[t][0] for t in terms))
        self.note("index.shard_postings", sum(per_term[t][1] for t in terms))

    def measure_size(self, docs) -> None:
        """Index bytes on disk per UTF-8 byte of the live docs' indexed
        text (path and content)."""
        from information_retrieval_spark.index.fsck import dir_bytes

        input_bytes = sum(len(p.encode()) + len(c.encode())
                          for p, c in docs.values())
        self.size_ratio = dir_bytes(self.index_dir) / input_bytes

    def write(self, maint, delta) -> None:
        """One ingest write op: a re-crawl of ``delta`` docs."""
        import pandas as pd

        with self.span("bench.delta"):
            df = self.spark.createDataFrame(pd.DataFrame(
                {"doc_id": [r.doc_id for r in delta],
                 "repo": [r.repo for r in delta],
                 "path": [r.path for r in delta],
                 "commit": [r.commit for r in delta],
                 "lang": [r.lang for r in delta],
                 "content": [r.content for r in delta]}))
        with self.span("maint.update"):
            maint.update_documents(df)
        return True

    # ------------------------------------------------------------ checks

    def check(self) -> None:
        """Every recorded answer against the oracle over the docs it saw."""
        t = time.perf_counter()

        def texts(docs):
            return {d: {"title": p, "abstract": c} for d, (p, c) in docs.items()}

        kw = {"sections": tuple(SECTIONS), "tokenizer": "code", "stop_k": STOP_K}
        base = current_docs(self.inp.rows)
        base_oracle = Oracle(texts(base), **kw)
        oracles: dict[int, Oracle] = {}
        golden: dict[tuple, list] = {}
        for docs, queries, rows in self.checks:
            if id(docs) not in oracles:
                oracles[id(docs)] = base_oracle if docs == base else (
                    PinnedStopOracle(texts(docs), base_oracle.stop_tokens, **kw))
            got = ranked_by_query(rows)
            ok = True
            for qid, q, mode in queries:
                key = (id(docs), q, mode)
                if key not in golden:
                    golden[key] = oracles[id(docs)].search(
                        q.text, q.method, weight=ORACLE_WEIGHT, k=K,
                        match_mode=mode)
                if not same_answer(got.get(qid, []), golden[key]):
                    ok = False
                    print(f"mismatch: {q} [{mode}] got {got.get(qid, [])[:3]}"
                          f" want {golden[key][:3]}", file=sys.stderr)
            if not ok:
                self.failed += 1
                print(f"wrong answer in an op over {len(docs)} docs", file=sys.stderr)
        self.oracle_s = time.perf_counter() - t

    def finish(self) -> None:
        from information_retrieval_spark.index.catalog import CORE_TABLES, Catalog
        from information_retrieval_spark.index.fsck import dir_bytes, fsck

        t = time.perf_counter()
        self.spark.range(5_000_000, numPartitions=self.cpus).selectExpr(
            "sum(id % 7)").collect()
        self.spark_probe_s = time.perf_counter() - t
        with self.span("fsck"):
            report = fsck(self.index_dir)
        self.fsck_errors = len(report["errors"])
        if self.fsck_errors:
            print(f"fsck: {report['errors']}", file=sys.stderr)
        cat = Catalog(self.index_dir)
        self.table_bytes = {
            t: sum(dir_bytes(d) for d in cat.table_dirs(t)) for t in CORE_TABLES
        }
        if self.size_ratio is None:
            self.measure_size(self.docs)
        self.compactions = sum(
            1 for v in cat.history() if v.get("operation") == "compact")
        self.segments = len(cat.table_dirs("packed"))
        self.rss_mb = jvm_tree_peak_rss_mb()


# ------------------------------------------------------------- workloads


def search_broad(run: Run) -> None:
    """Static index, exact okapi25 batches of 16 with spell on: every
    vocabulary term sits in about a third of the docs, so scoring long
    posting lists does most of the work."""
    from information_retrieval_spark.query.wand import WandEngine

    run.build()
    selective_probe(run)
    with run.span("wand.open"):
        wand = WandEngine(run.spark, run.index_dir)
    bd = run.bigram_dict() if run.tracer else None
    batches = run.inp.broad_batches()
    for _ in range(WARMUP_BATCHES):
        run.broad_batch(wand, next(batches), False, None)
    docs = current_docs(run.inp.rows)

    def op(i, traced):
        batch = next(batches)
        t = time.perf_counter()
        with run.op_span("op.read", i, traced):
            res = run.attempt(run.broad_batch, wand, batch, traced, bd)
        run.read_lat.append((time.perf_counter() - t, traced))
        if traced and res:
            run.count_shard()
        if res:
            run.queries += len(batch)
            run.checks.append((docs, *res))

    run.timed_loop(op)
    wand.close()
    run.docs = docs


def maintenance(run: Run):
    from information_retrieval_spark.index.maintenance import IndexMaintenance

    return IndexMaintenance(run.spark, run.index_dir,
                            auto_compact_segments=AUTO_COMPACT_SEGMENTS,
                            auto_compact_mode="tiered")


def ingest_cycle(run: Run, op_id, docs, deltas, reads, maint, traced: bool):
    """One write op then one read op on the snapshot it produced; returns
    the docs dict after the write."""
    delta = next(deltas)
    t = time.perf_counter()
    with run.op_span("op.write", f"{op_id}w", traced):
        ok = run.attempt(run.write, maint, delta) is not None
    if ok and traced:
        run.note("maint.stage_s", maint.last_stage_timings["total"])
        run.note("maint.commit_s", maint.last_commit_s)
    if op_id != "probe":
        run.write_lat.append(time.perf_counter() - t)
    docs = dict(docs)
    docs.update({r.doc_id: (r.path, r.content) for r in delta})
    if op_id == 0 and ok:
        # a fixed point: the end of a run comes after a host-dependent
        # number of writes, and the size grows with each one
        run.measure_size(docs)
    batch = next(reads)
    t = time.perf_counter()
    with run.op_span("op.read", op_id, traced):
        res = run.attempt(run.ingest_read, batch, traced)
    if op_id != "probe":
        run.read_lat.append((time.perf_counter() - t, traced))
        if res:
            run.queries += len(batch)
            if traced:
                run.count_shard()
    if res and ok:
        run.checks.append((docs, *res))
    return docs


def ingest_mixed(run: Run) -> None:
    """Writes beside reads, alternating: a 200-doc re-crawl (update, then
    tiered auto-compaction past ``AUTO_COMPACT_SEGMENTS``), then a fresh
    WandEngine on the new snapshot answering one 8-query broad batch."""
    run.build()
    selective_probe(run)
    maint = maintenance(run)
    deltas, reads = run.inp.deltas(), run.inp.ingest_batches()
    run.docs = current_docs(run.inp.rows)
    # one untimed write brings the index to the loop's steady shape, so
    # the first timed write already merges and a run's ops do not depend
    # on how many of them fit in its seconds
    delta = next(deltas)
    if run.attempt(run.write, maint, delta):
        run.docs = {**run.docs, **{r.doc_id: (r.path, r.content) for r in delta}}

    def op(i, traced):
        run.docs = ingest_cycle(run, i, run.docs, deltas, reads, maint, traced)

    run.timed_loop(op)


def selective_probe(run: Run) -> None:
    """Traced runs only, right after the base build: one selective read
    (WAND prefix okapi25 + SearchEngine tf-idf, spell on) on the static
    index, so the SearchEngine and prefix layers have a reading on every
    workload. Checked against the oracle over the base corpus."""
    if not run.tracer:
        return
    okapi, tfidf = next(run.inp.selective_batches())
    with run.op_span("op.read", "probe-selective", True):
        res = run.attempt(run.selective_read, okapi, tfidf)
    if res:
        run.checks.append((current_docs(run.inp.rows), *res))


def current_docs(rows) -> dict[int, tuple[str, str]]:
    return {r.doc_id: (r.path, r.content) for r in rows}


# ------------------------------------------------------------ host probes


def cpu_probe() -> float:
    """A fixed numpy loop: host speed, recorded with every run."""
    import numpy as np

    t = time.perf_counter()
    a = np.arange(1_000_000, dtype=np.float64)
    for _ in range(40):
        a = np.sqrt(a * a + 1.0)
    return time.perf_counter() - t


def jvm_tree_peak_rss_mb() -> float:
    """Sum of peak resident set (VmHWM) over the Spark JVM and every
    process under it (the Python workers), read from /proc."""
    from pyspark import SparkContext

    root = SparkContext._gateway.proc.pid
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f
                           if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


# ------------------------------------------------------------- reporting


def p50(xs):
    return statistics.median(xs)


def end_to_end(run: Run) -> dict:
    reads = [s for s, traced in run.read_lat if not traced]
    setup_s = run.t_first_op - T_START - run.gen_s - run.cpu_probe_s
    return {
        "setup_s": (setup_s, "s"),
        "build_files_per_s": (N_DOCS / run.build_s, "1/s"),
        "batch_p50_s": (p50(reads), "s"),
        "queries_per_s": (run.queries / run.loop_s, "1/s"),
        "index_bytes_per_input_byte": (run.size_ratio, "ratio"),
        "peak_rss_mb": (run.rss_mb, "MB"),
    }


def per_layer(run: Run) -> dict:
    spans = run.tracer.spans
    st = self_times(spans)

    def in_loop(s):
        return s.op_id is not None and not str(s.op_id).startswith("probe")

    def pick(name):
        """Spans of ``name`` in traced loop ops, else in set-up, else in
        the after-loop probe."""
        for keep in (in_loop, lambda s: s.op_id is None, lambda s: True):
            ix = [i for i, s in enumerate(spans) if s.name == name and keep(s)]
            if ix:
                return ix
        return []

    def med_self(name):
        ix = pick(name)
        return p50([st[i] for i in ix]) if ix else 0.0

    def mean_of(name, attr):
        ix = pick(name)
        return sum(getattr(spans[i], attr) for i in ix) / len(ix) if ix else 0.0

    # every span of an op carries the op's id
    loop_ops = {s.op_id for s in spans if in_loop(s)}
    per_op = {k: sum(getattr(s, k) for s in spans if in_loop(s)) / len(loop_ops)
              for k in ("jobs", "tasks", "failed_tasks")}
    reads = [s for s, traced in run.read_lat if not traced]
    traced_reads = [s for s, traced in run.read_lat if traced]
    ext = {k: p50(v) for k, v in run.extra.items()}
    m = {
        "session.start_s": (run.session_start_s, "s"),
        "build.wall_s": (run.build_s, "s"),
        "build.jobs": (mean_of("build", "jobs"), "count"),
        **{f"build.stage.{s}_s": (run.manifest["stages"][s]["wall_s"], "s")
           for s in BUILD_STAGES},
        "tokenize.docs_per_s": (run.tokenize_docs_per_s, "1/s"),
        "codec.postings_decoded_per_s": (run.codec_per_s, "1/s"),
        "index.shard_blocks": (ext.get("index.shard_blocks", 0.0), "count"),
        "index.shard_postings": (ext.get("index.shard_postings", 0.0), "count"),
        **{f"index.bytes.{t}": (b, "bytes") for t, b in run.table_bytes.items()},
        "wand.open_s": (med_self("wand.open"), "s"),
        "wand.search_s": (med_self("wand.search"), "s"),
        "wand.search_jobs": (mean_of("wand.search", "jobs"), "count"),
        "wand.collect_s": (med_self("wand.collect"), "s"),
        "wand.collect_jobs": (mean_of("wand.collect", "jobs"), "count"),
        "wand.collect_tasks": (mean_of("wand.collect", "tasks"), "count"),
        "engine.open_s": (med_self("engine.open"), "s"),
        "engine.search_s": (med_self("engine.search"), "s"),
        "engine.collect_s": (med_self("engine.collect"), "s"),
        "engine.jobs": (mean_of("engine.search", "jobs")
                        + mean_of("engine.collect", "jobs"), "count"),
        "spell.dict_s": (med_self("spell.dict"), "s"),
        "spell.correct_s": (med_self("spell.correct"), "s"),
        "maint.update_s": (med_self("maint.update"), "s"),
        "maint.stage_s": (ext["maint.stage_s"], "s"),
        "maint.commit_s": (ext["maint.commit_s"], "s"),
        "maint.compactions": (run.compactions, "count"),
        "maint.segments": (run.segments, "count"),
        "fsck.s": (med_self("fsck"), "s"),
        "fsck.errors": (run.fsck_errors, "count"),
        "spark.jobs": (per_op["jobs"], "count"),
        "spark.tasks": (per_op["tasks"], "count"),
        "spark.failed_tasks": (per_op["failed_tasks"], "count"),
        "bench.gen_s": (run.gen_s, "s"),
        "bench.oracle_s": (run.oracle_s, "s"),
        "host.cpu_probe_s": (run.cpu_probe_s, "s"),
        "host.spark_job_s": (run.spark_probe_s, "s"),
        "trace.overhead": (p50(traced_reads) / p50(reads), "ratio"),
    }
    # how much of a traced read op the layer spans account for
    read_roots = [i for i, s in enumerate(spans) if s.name == "op.read" and in_loop(s)]
    layer_s = [sum(st[j] for j, s in enumerate(spans)
                   if s.op_id == spans[i].op_id and j != i) for i in read_roots]
    print(f"# traced read op: wall p50 {p50([spans[i].wall for i in read_roots]):.4f} s,"
          f" layer self time p50 {p50(layer_s):.4f} s,"
          f" harness self time p50 {p50([st[i] for i in read_roots]):.4f} s")
    return m


def probe_layers(run: Run) -> None:
    """Fixed-input layer probes of a traced run: tokenizer throughput and
    doc-gap decoding over the blocks of the pool's query terms."""
    from pyspark.sql import functions as F

    from information_retrieval_spark.index.catalog import read_packed
    from information_retrieval_spark.index.codec import decode_doc_gaps
    from information_retrieval_spark.tokenize import code_terms, code_tokens_bulk

    texts = [r.content for r in run.inp.rows[:500]]
    n, t = 0, time.perf_counter()
    while n == 0 or time.perf_counter() - t < 0.3:
        code_tokens_bulk(texts)
        n += len(texts)
    run.tokenize_docs_per_s = n / (time.perf_counter() - t)

    terms = sorted({t for q in run.inp.broad_pool for t in code_terms(q.text)})
    blocks = [r.docs_bin for r in read_packed(run.spark, run.index_dir)
              .filter(F.col("term").isin(terms)).select("docs_bin").collect()]
    n, t = 0, time.perf_counter()
    while n == 0 or time.perf_counter() - t < 0.3:
        n += sum(len(decode_doc_gaps(b)) for b in blocks)
    run.codec_per_s = n / (time.perf_counter() - t)


def report(run: Run) -> dict:
    if run.tracer:
        metrics = per_layer(run)
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        out = os.path.join(ROOT, ".perfbench_out",
                           f"trace-{run.args.workload}-seed{run.args.seed}.json")
        with open(out, "w") as f:
            json.dump(run.tracer.dump(), f)
    else:
        metrics = end_to_end(run)
        reads = [s for s, traced in run.read_lat if not traced]
        for label, xs in (("batch", reads), ("write", run.write_lat)):
            if not xs:
                continue
            print(f"{label}_p50_s {p50(xs):.4f} s ({len(xs)} samples)")
            print(f"# {label} latencies: {' '.join(f'{x:.3f}' for x in xs)}")
            tl = tail(xs)
            print(f"{label}_tail_s " + (
                f"{tl[0]:.4f} s (p{tl[1]:.1f}, {len(xs)} samples, {tl[2]} beyond)"
                if tl else f"n/a ({len(xs)} samples; a tail needs more than 10)"))
        print(f"failed_frac {failed_frac(run.attempted, run.failed):.4f} ratio")
        print(f"host.cpu_probe_s {run.cpu_probe_s:.4f} s")
        print(f"host.spark_job_s {run.spark_probe_s:.4f} s")
    for k, (v, unit) in metrics.items():
        print(f"{k} {v:.6g} {unit}")
    return {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    workloads = {"search-broad": search_broad, "ingest-mixed": ingest_mixed}
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    workdir = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(workdir)
    try:
        run = Run(args, workdir)
        run.start_spark()
        try:
            workloads[args.workload](run)
            t_loop_end = time.perf_counter()
            run.finish()
            if run.tracer:
                if args.workload == "search-broad":
                    # maintenance, which this workload never calls, gets
                    # its reading from one ingest cycle after the loop and
                    # after the index was measured
                    ingest_cycle(run, "probe", run.docs, run.inp.deltas(),
                                 run.inp.ingest_batches(), maintenance(run),
                                 traced=True)
                probe_layers(run)
        finally:
            t_stop = time.perf_counter()
            run.stop_spark()
        t_check = time.perf_counter()
        run.check()
        print(f"# run wall {time.perf_counter() - T_START:.1f} s: before the"
              f" loop {run.t_first_op - T_START:.1f}, loop {run.loop_s:.1f},"
              f" after it {t_stop - t_loop_end:.1f}, Spark stop"
              f" {t_check - t_stop:.1f}, answer check {run.oracle_s:.1f}")
        metrics = report(run)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0 and run.fsck_errors == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
