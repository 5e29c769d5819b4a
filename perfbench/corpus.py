"""Seeded benchmark inputs and their expected outputs.

Every input is derived from a synthetic ``documents`` table with the
schema of the repository's test documents (``doc_id, text, lang, source,
n_chars``) and their measured shape (``SF01``): the sf0.1 documents table
has 5,000 documents of 10-99 words drawn uniformly from a 30-word
vocabulary, 5% of them a copy of another document's text plus `` dup``,
41% ``en`` and about 15% each ``fr``, ``es``, ``zh``, ``de``, and source
``src<doc_id % 20>``. :func:`write_documents` draws from that model and
checks its text-length quantiles against the measured ones. The text is
fixed; the seed only shifts the doc ids by a multiple of ``SHIFT``. Every
block-shape rule in ``sources.pages`` keys on ``doc_id`` modulo 2, 3, 5,
7, 17 or 50, and ``SHIFT`` is a multiple of all of them, so a new seed
changes urls, url buckets and LSH bands but not the work per page.

Expected outputs come from DuckDB over the same documents table, using the
oracle SQL of ``__spark_entry__`` (the repository's correctness lanes), or
from an in-process ``parse_block`` recount, written as parquet rows. Spark
reduces both the expected rows and a run's output to a count and an
order-insensitive hash (:func:`fold_sql`).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHIFT = 17850  # lcm(2, 3, 5, 7, 17, 50)
TEXT_SEED = 20240601  # fixed: the text never depends on the workload seed
# The sf0.1 test documents, measured once: document count, words per
# text, the vocabulary, the near-duplicate share, language shares, and
# the text length in characters at the quantiles 5, 10, 25, 50, 75, 90
# and 95% (DuckDB ``quantile_cont(length(text), ...)``).
SF01 = {
    "documents": 5000,
    "words": (10, 99),
    "dup_share": 0.05,
    "langs": {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14},
    "text_len_q": {0.05: 78, 0.10: 103, 0.25: 176, 0.50: 295, 0.75: 418,
                   0.90: 493, 0.95: 519},
}
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
QUAD_COLS = ("url", "blk", "subj", "pred", "obj", "graph")
# blocks per page of sources.pages (A, B, C, malformed X); also the index
# of the site-template block, which follows them
TEMPLATE_BLK_SQL = ("CAST(1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END"
                    " + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END"
                    " + CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END"
                    " AS INT)")


def fold_sql() -> str:
    """An order-insensitive 64-bit hash of quad rows, as a Spark SQL
    aggregate: the xor of each row's ``xxhash64``. It is cheap enough to be
    a timed run's sink (perfbench/README.md gives its share). The rows of
    every checked output are distinct, so the xor cannot cancel a
    duplicated row away; nulls are tagged so that they cannot shift
    between columns."""
    cols = ", ".join(f"CAST({c} AS STRING), isnull({c})" if c != "blk"
                     else f"CAST({c} AS INT), isnull({c})"
                     for c in QUAD_COLS)
    return f"bit_xor(xxhash64({cols}))"


def copy_rows(con, sql: str, path: str) -> None:
    """Writes the rows of a DuckDB query as one parquet file."""
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def write_documents(path: str, n_docs: int, seed: int) -> None:
    """The seeded documents table (one parquet file), drawn from the
    measured sf0.1 shape (``SF01``)."""
    rng = np.random.default_rng(TEXT_SEED)
    lo, hi = SF01["words"]
    lengths = rng.integers(lo, hi + 1, size=n_docs)
    picks = rng.integers(0, len(WORDS), size=int(lengths.sum()))
    texts, at = [], 0
    for n in lengths:
        texts.append(" ".join(WORDS[i] for i in picks[at:at + n]))
        at += n
    for i in np.flatnonzero(rng.random(n_docs) < SF01["dup_share"]):
        texts[i] = texts[rng.integers(0, n_docs)] + " dup"
    if n_docs >= 2000:  # a few hundred draws are too few to check
        check_text_lengths([len(t) for t in texts])
    langs = list(SF01["langs"])
    lang = rng.choice(len(langs), size=n_docs, p=list(SF01["langs"].values()))
    ids = np.arange(n_docs, dtype=np.int64) + np.int64(seed) * SHIFT
    table = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array([langs[i] for i in lang]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, f"{path}/documents.parquet")


def check_text_lengths(lengths: list[int], tolerance: float = 0.06) -> None:
    """Fails when the text-length quantiles of a generated table are more
    than ``tolerance`` away from the measured sf0.1 ones."""
    qs = list(SF01["text_len_q"])
    got = np.quantile(np.asarray(lengths), qs)
    off = {q: round(g) for q, g in zip(qs, got)
           if abs(g / SF01["text_len_q"][q] - 1) > tolerance}
    if off:
        raise RuntimeError(f"text-length quantiles {off} are off the sf0.1 "
                           f"figures {SF01['text_len_q']}")


def duck(docs_dir: str):
    """A DuckDB connection with the seeded ``documents`` view."""
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{docs_dir}/documents.parquet')")
    return con


def _oracles() -> dict:
    import __spark_entry__ as entry
    return entry.oracle_sql()


def _strip_order(sql: str) -> str:
    head, sep, _ = sql.rpartition("ORDER BY")
    return head if sep else sql


def block_counts(con) -> dict:
    """Pages, blocks and planted malformed blocks of the pages corpus
    (the block-shape rules of ``sources.pages``)."""
    pages, blocks, bad = con.execute(
        f"SELECT count(*), sum({TEMPLATE_BLK_SQL}),"
        " sum(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END)"
        " FROM documents").fetchone()
    return {"pages": int(pages), "blocks": int(blocks),
            "malformed_blocks": int(bad)}


def write_pages(con, path: str, row_groups: int,
                template: bool = False) -> None:
    """The stored pages table (``url, html``) of ``sources.pages``, built by
    DuckDB from the package's own SQL. With ``template`` every page also
    carries its site's template block (``shared_org_block_sql``), after
    its other blocks."""
    from jsonld_streaming_parser_js_spark.sources.pages import (
        html_sql, page_url_sql, shared_org_block_sql)
    html = html_sql()
    if template:
        html = (f"replace({html}, '</head>', "
                "'<script type=\"application/ld+json\">' || "
                f"{shared_org_block_sql()} || '</script></head>')")
    n = con.execute("SELECT count(*) FROM documents").fetchone()[0]
    con.execute(
        f"COPY (SELECT _url AS url, encode({html}) AS html FROM"
        f" (SELECT *, {page_url_sql()} AS _url FROM documents))"
        f" TO '{path}' (FORMAT PARQUET,"
        f" ROW_GROUP_SIZE {max(n // row_groups, 1)})")


def expected_quads_sql() -> str:
    """The expected ``pages_to_quads`` rows of the pages corpus."""
    return _strip_order(_oracles()["kg_quads"])


def expected_kg(con, store_path: str, canonical_path: str) -> int:
    """Writes the template corpus's expected store rows (``quads_table``)
    and canonical rows (``quads_canonical``): the expected-quads and
    canonical-quads oracles over the base blocks, each plus an in-process
    ``parse_block`` recount of every page's template block (relabeling
    leaves those alone: no template node shares an author's features).
    Returns the number of template blocks."""
    from jsonld_streaming_parser_js_spark.functions.parser import (
        parse_block)
    from jsonld_streaming_parser_js_spark.sources.pages import (
        page_url_sql, shared_org_block_sql)

    rows = {c: [] for c in QUAD_COLS}
    pages = con.execute(
        f"SELECT {page_url_sql()}, {TEMPLATE_BLK_SQL},"
        f" {shared_org_block_sql()} FROM documents").fetchall()
    for url, blk, block in pages:
        quads, err = parse_block(block, url, blk, {})
        if err is not None:
            raise RuntimeError(f"template block failed to parse: {err}")
        for s, p, o, g in quads:
            for c, v in zip(QUAD_COLS, (url, blk, s, p, o, g)):
                rows[c].append(v)
    tpl = pa.table({c: pa.array(v, pa.int32() if c == "blk"
                                 else pa.string())
                    for c, v in rows.items()})
    con.register("tpl", tpl)
    tail = " UNION ALL SELECT url, blk, subj, pred, obj, graph FROM tpl"
    copy_rows(con, expected_quads_sql() + tail, store_path)
    copy_rows(con, _strip_order(_oracles()["kg_quads_canonical"]) + tail,
              canonical_path)
    con.unregister("tpl")
    return len(pages)


def entity_quads_sql() -> str:
    """The fuzzy-canonicalization entity-chain corpus of the
    ``kg_canonical_fuzzy`` lane, in DuckDB SQL: per document a 3-node
    chain A-B-C of 12-feature sliding windows shifted by 2."""
    return """
SELECT 'synthetic://entities' AS url, 0::INT AS blk,
       '<http://auth.example.org/e' || doc_id::VARCHAR
         || substr('abc', r + 1, 1) || '>' AS subj,
       '<http://ex.org/feat>' AS pred,
       '"t' || doc_id::VARCHAR || '_' || (r * 2 + j)::VARCHAR || '"' AS obj,
       '' AS graph
FROM documents, range(3) t1(r), range(12) t2(j)"""


def write_graph_inputs(con, entity_path: str, store_path: str) -> dict:
    """kg_graph inputs: the entity corpus and a stored quads parquet (the
    expected parse of the pages corpus)."""
    copy_rows(con, entity_quads_sql(), entity_path)
    copy_rows(con, expected_quads_sql(), store_path)
    return {name: con.execute(
        f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0]
        for name, p in (("entity_quads", entity_path),
                        ("store_quads", store_path))}


def graph_expectations(con, store_path: str) -> tuple[set, dict]:
    """The oracle fuzzy mapping rows and the oracle PageRank (6-digit)
    ranks of the kg_graph inputs."""
    from jsonld_streaming_parser_js_spark.operators.graphalgo import (
        pagerank_oracle_sql)
    mapping = set(con.execute(
        _strip_order(_oracles()["kg_canonical_fuzzy"])).fetchall())
    ranks = dict(con.execute(pagerank_oracle_sql(
        f"SELECT subj AS src, obj AS dst FROM read_parquet('{store_path}')"
        " WHERE substr(obj, 1, 1) <> '\"'", iterations=5)).fetchall())
    return mapping, ranks
