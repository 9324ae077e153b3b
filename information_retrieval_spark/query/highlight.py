"""Match highlighting (F13, `ui/backend/mir/search/common.py:158-170`).

The reference inserts markup around the stored character offsets of matched
query terms in the final k result rows. Positions here come from the
``postings_flat.positions`` arrays (offset sets, quirk Q4) — a tiny
broadcast-join lookup for the k result docs, then pure-Python markup on the
driver (k rows; the reference does exactly this driver-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

MARK_OPEN = "<mark>"
MARK_CLOSE = "</mark>"


def match_offsets(
    spark: SparkSession,
    index_dir: str,
    results: DataFrame,
    qterms: list[str],
) -> DataFrame:
    """(doc_id, section, term, positions) for the result docs × query terms.
    Pushed-filter scan on the term-sorted live postings (an updated doc's
    old rows are hidden) + broadcast semi join against the (tiny) result
    set."""
    from information_retrieval_spark.query.snapshot import IndexSnapshot

    postings = IndexSnapshot(spark, index_dir).postings
    docs = results.select("doc_id").distinct()
    return (
        postings.filter(F.col("term").isin(list(qterms)))
        .join(F.broadcast(docs), "doc_id")
        .select("doc_id", "section", "term", "positions")
    )


def apply_markup(text: str, offsets: list[tuple[int, int]]) -> str:
    """Insert markup around (offset, length) spans; spans must not overlap
    (offsets are distinct token starts)."""
    out = []
    last = 0
    for off, ln in sorted(offsets):
        if off < last:
            continue  # defensive: skip overlapping span
        out.append(text[last:off])
        out.append(MARK_OPEN + text[off : off + ln] + MARK_CLOSE)
        last = off + ln
    out.append(text[last:])
    return "".join(out)


def _gather(
    spark: SparkSession,
    index_dir: str,
    results: DataFrame,
    corpus: DataFrame,
    qterms: list[str],
):
    """Shared driver-side gather for the k result rows: (result rows,
    (doc_id, section) → [(offset, length, term)], doc_id → corpus row)."""
    res_rows = results.collect()
    doc_ids = {r.doc_id for r in res_rows}
    offs = match_offsets(spark, index_dir, results, qterms).collect()
    by_doc: dict[tuple[int, str], list[tuple[int, int, str]]] = {}
    for r in offs:
        for p in r.positions:
            by_doc.setdefault((r.doc_id, r.section), []).append(
                (p, len(r.term), r.term)
            )
    texts = {
        r["doc_id"]: r
        for r in corpus.filter(F.col("doc_id").isin(list(doc_ids))).collect()
    }
    return res_rows, by_doc, texts


def highlight_results(
    spark: SparkSession,
    index_dir: str,
    results: DataFrame,
    corpus: DataFrame,
    qterms: list[str],
    section_cols: dict[str, str],
) -> list[dict]:
    """Driver-side markup of the final k rows: returns
    [{query_id, rank, doc_id, <section>: marked_text, ...}]."""
    res_rows, by_doc, texts = _gather(
        spark, index_dir, results, corpus, qterms
    )
    out = []
    for r in res_rows:
        row = {"query_id": r.query_id, "rank": r.rank, "doc_id": r.doc_id,
               "score": r.score}
        src = texts.get(r.doc_id)
        for section, col in section_cols.items():
            text = src[col] if src else ""
            row[section] = apply_markup(
                text,
                [(o, ln) for o, ln, _ in by_doc.get((r.doc_id, section), [])],
            )
        out.append(row)
    return out


# ----------------------------------------------------------- best passage

ELLIPSIS = "…"


def best_passage(
    spans: list[tuple[int, int, str]], window: int
) -> tuple[int, list[tuple[int, int]]]:
    """Choose the best ``window``-char passage for a doc's match spans
    ``(offset, length, term)``: the window START is anchored at some
    span's offset (an optimal window can always be slid right until it
    hits one), scored by (#spans fully inside, #distinct terms inside),
    ties → earliest. Returns (window_start, spans_inside) — correct for
    overlapping spans too. The reference marks up whole sections
    (`common.py:158-170`); at 100 TB result docs are megabytes, so the
    server returns a query-dense excerpt instead of the document."""
    if not spans:
        return 0, []
    spans = sorted(spans)
    # Per anchor, membership is "fits entirely": o >= off AND
    # o + ln <= off + window. Under OVERLAPPING spans that set is not a
    # contiguous prefix (a long blocker can precede a short span that
    # fits), so a monotone two-pointer under-counts — scan the window's
    # span starts per anchor instead: O(n · spans-per-window), and span
    # lists here are per-(doc, section) for k result rows, never
    # corpus-sized.
    best_score = (-1, -1)
    best_start = 0
    best_inside: list[tuple[int, int]] = []
    for i, (off, _ln, _t) in enumerate(spans):
        inside = []
        for o, ln, t in spans[i:]:
            if o >= off + window:
                break
            if o + ln <= off + window:
                inside.append((o, ln, t))
        score = (len(inside), len({t for _, _, t in inside}))
        if score > best_score:
            best_score = score
            best_start = off
            best_inside = [(o, ln) for o, ln, _ in inside]
    return best_start, best_inside


def passage_results(
    spark: SparkSession,
    index_dir: str,
    results: DataFrame,
    corpus: DataFrame,
    qterms: list[str],
    section_cols: dict[str, str],
    window: int = 160,
) -> list[dict]:
    """`highlight_results`, but each section carries only its BEST
    ``window``-char passage (max matched spans, then max distinct terms,
    then earliest — `best_passage`), clipped with ellipses, plus
    ``<section>_range = (start, end)`` into the original text. Sections
    with no match return their head ``window`` chars unmarked (the
    reference UI's behavior for unmatched sections). Driver-side over
    the k result rows only — corpus text reaches the driver k rows at a
    time, never corpus-sized."""
    res_rows, by_doc, texts = _gather(
        spark, index_dir, results, corpus, qterms
    )
    out = []
    for r in res_rows:
        row = {"query_id": r.query_id, "rank": r.rank, "doc_id": r.doc_id,
               "score": r.score}
        src = texts.get(r.doc_id)
        for section, col in section_cols.items():
            text = src[col] if src else ""
            spans = by_doc.get((r.doc_id, section), [])
            start, inside = best_passage(spans, window)
            end = min(len(text), start + window)
            marked = apply_markup(
                text[start:end], [(o - start, ln) for o, ln in inside]
            )
            row[section] = (
                (ELLIPSIS if start > 0 else "")
                + marked
                + (ELLIPSIS if end < len(text) else "")
            )
            row[f"{section}_range"] = (start, end)
        out.append(row)
    return out
