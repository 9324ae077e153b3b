"""M1 smoke: build index on tiny fixture corpus, compare engine vs oracle."""
import sys, tempfile, time

sys.path.insert(0, "/root/repo")

from information_retrieval_spark.session import get_spark
from information_retrieval_spark.fixtures import corpus_rows, make_queries
from information_retrieval_spark.index.build import IndexBuilder
from information_retrieval_spark.query.engine import QuerySpec, SearchEngine
from tests.oracle import Oracle

N = 200
rows = corpus_rows(N)
spark = get_spark("smoke_m1", master="local[4]", shuffle_partitions=8)

corpus = spark.createDataFrame(
    [(r.doc_id, r.repo, r.path, r.commit, r.lang, r.content) for r in rows],
    "doc_id long, repo string, path string, commit string, lang string, content string",
)
sections = {"title": "path", "abstract": "content"}
idx_dir = tempfile.mkdtemp(prefix="ir_idx_")
t0 = time.time()
IndexBuilder(spark, idx_dir, sections, tokenizer="code", stop_k=20).build(corpus)
print(f"build: {time.time()-t0:.1f}s")

oracle = Oracle(
    {r.doc_id: {"title": r.path, "abstract": r.content} for r in rows},
    sections=("title", "abstract"), tokenizer="code", stop_k=20,
)
eng = SearchEngine(spark, idx_dir)
print("stop engine==oracle:", eng.snapshot.stop_terms == oracle.stop_tokens, sorted(oracle.stop_tokens))

queries = make_queries(12)
specs = [QuerySpec(q.query_id, q.query_text, q.method, q.k) for q in queries]
t0 = time.time()
res = eng.search(specs).collect()
print(f"query batch: {time.time()-t0:.1f}s, rows={len(res)}")

by_q = {}
for r in res:
    by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))

bad = 0
for q in queries:
    got = sorted(by_q.get(q.query_id, []))
    exp = oracle.search(q.query_text, q.method, weight=0.2, k=q.k)
    g = [(d, round(s, 6)) for _, d, s in got]
    e = [(d, round(s, 6)) for d, s in exp]
    ok = g == e
    if not ok:
        bad += 1
        print(f"q{q.query_id} [{q.method}] '{q.query_text}' MISMATCH")
        print("  got:", g[:5])
        print("  exp:", e[:5])
print("mismatches:", bad, "/", len(queries))
spark.stop()
