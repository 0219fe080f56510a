"""Text family: the corpus-curation text stack over ``documents`` —
tokenization and quality signals, language ID, fingerprints, TF-IDF /
n-gram / BM25 ranking, PII redaction, repetition and boilerplate scores,
n-gram language-model NLL, BPE vocabulary / encode / packing, dataset
splits, quotas, budgets, domain mixtures, URL hygiene, shard manifests,
and the web front door (WARC/WET ingestion with rejects, HTML
main-content extraction) with its hashing-trick and naive-Bayes
classifiers.

The WARC keys write their fixtures with the engine's own distributed WARC
writer and read them back; the oracle is the originating ``documents``
table (round-trip identity) resp. the pinned per-reason reject counts.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.splits import stable_split
from ..functions.text import (
    bpe_ish_tokens,
    detect_language,
    fingerprint,
    quality_score,
    stopword_count,
    token_count,
)
from .queries import _t, query


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(lower(text), ' ')) AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
           length(text) AS n_chars
    FROM documents
    """,
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.size(bpe_ish_tokens("text")).alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


@query(
    "text_quality_score",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             len(string_split(lower(text), ' ')) AS n_tok,
             length(replace(text, ' ', '')) AS n_alpha,
             len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('the','a','an','of','to','in','and','is','on','for'))) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           floor((n_stop / n_tok) * 10000) / 10000 AS stop_ratio,
           floor((least(1.0, n_tok / 100.0) * 0.5
                  + (n_stop / n_tok) * 0.25
                  + least(1.0, (n_alpha / n_tok) / 8.0) * 0.25) * 10000) / 10000
               AS quality
    FROM s
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n_tok = token_count("text").cast("double")
    stop_ratio = stopword_count("text").cast("double") / n_tok
    return docs.select(
        "doc_id",
        (F.floor(stop_ratio * 10000) / 10000).alias("stop_ratio"),
        quality_score("text").alias("quality"),
    )


@query(
    "text_langid",
    oracle="""
    WITH sc AS (
      SELECT doc_id, lang,
        len(list_filter(string_split(lower(text),' '), t -> t IN ('the','a','of','and','to','is'))) AS s_en,
        len(list_filter(string_split(lower(text),' '), t -> t IN ('der','die','das','und','ist','ein'))) AS s_de,
        len(list_filter(string_split(lower(text),' '), t -> t IN ('el','los','las','y','es','una'))) AS s_es,
        len(list_filter(string_split(lower(text),' '), t -> t IN ('le','les','et','est','une','dans'))) AS s_fr,
        len(list_filter(string_split(lower(text),' '), t -> t IN ('的','是','了','在','我','他'))) AS s_zh
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN greatest(s_en,s_de,s_es,s_fr,s_zh) <= 0 THEN 'und'
                WHEN s_en = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'en'
                WHEN s_de = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'de'
                WHEN s_es = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'es'
                WHEN s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh) THEN 'fr'
                ELSE 'zh' END AS lang_pred
    FROM sc
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", detect_language("text").alias("lang_pred")
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        "doc_id", fingerprint("text").alias("fp")
    )


@query(
    "text_tfidf_topk",
    oracle="""
    WITH tf AS (
      SELECT doc_id, t.term, count(*) AS tf
      FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
      GROUP BY doc_id, t.term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 4) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tfidf, rnk FROM ranked WHERE rnk <= 5
    """,
)
def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 terms by smoothed tf-idf
    (tf × ln((N+1)/(df+1))), ranked on the 4-dp-rounded score with a
    term-asc tiebreak so the cut is engine-deterministic.

    Scale: one explode→(doc,term) count (shuffle keyed on the pair — high
    cardinality, parallel), the document-frequency side reduces to
    |vocab| rows and the corpus count to ONE row, both broadcast back —
    the corpus-size frames never shuffle the big side again."""
    from ..functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "term", "tfidf", "rnk")
    )


@query(
    "text_ngram_topk",
    oracle="""
    WITH tok AS (SELECT string_split(lower(text), ' ') AS tk FROM documents),
    bg AS (
      SELECT unnest(list_transform(range(1, len(tk)),
                                   i -> tk[i] || ' ' || tk[i + 1])) AS bigram
      FROM tok
    )
    SELECT bigram, count(*) AS freq FROM bg
    GROUP BY bigram ORDER BY freq DESC, bigram ASC LIMIT 20
    """,
)
def q_text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 word bigrams by occurrence count — the n-gram
    frequency profile used for boilerplate detection and tokenizer
    vocabulary studies. Full (freq desc, bigram asc) order makes the
    20-row cut deterministic.

    Scale: explode → one count shuffle keyed on the bigram; the global
    top-20 is a TakeOrdered over the reduced |distinct-bigram| frame
    (per-partition heaps + driver merge of 20-row heads), never a full
    sort of the corpus."""
    from ..functions.text import word_ngrams

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(word_ngrams("text", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("bigram").asc())
        .limit(20)
    )


_BM25_TERMS = ("join", "scan", "merge")


@query(
    "text_bm25_rank",
    oracle=f"""
    WITH dl AS (
      SELECT doc_id, len(string_split(lower(text), ' ')) AS dl FROM documents
    ),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, t.term, count(*) AS tf
      FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
      WHERE t.term IN {_BM25_TERMS!r}
      GROUP BY doc_id, t.term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             sum(ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)))
               AS score
      FROM tf
      JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY tf.doc_id
    ),
    ranked AS (
      SELECT doc_id, round(score, 4) AS bm25,
             row_number() OVER (ORDER BY round(score, 4) DESC, doc_id ASC)
               AS rnk
      FROM scored
    )
    SELECT doc_id, bm25, rnk FROM ranked WHERE rnk <= 20
    """,
)
def q_text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (k1=1.2, b=0.75) for a fixed term set:
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf = ln(1 + (N−df+0.5)/(df+0.5)). Top-20 docs, ranked on the
    rounded score with doc-id tiebreak.

    Scale: the term filter lands BEFORE the tf aggregation, so only
    matching postings shuffle; corpus stats (N, avgdl) reduce to one
    broadcast row, per-term df to |terms| broadcast rows. The final
    ranking is a TakeOrdered over |matching docs| scores — no global
    sort, no corpus self-join."""
    from ..functions.text import token_count, tokens

    from ..session import fan_out

    K1, B = 1.2, 0.75
    # fan_out (r10): the token explode + length scan run at the scan's
    # split width (1 effective task on a single-row-group file); no-op
    # at real scale
    docs = fan_out(_t(spark, sf_dir, "documents"))
    dl = docs.select("doc_id", token_count("text").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("tf") * (K1 + 1.0) / denom).alias("score"))
    )
    # orderBy().limit() plans a TakeOrderedAndProject (per-partition top-20
    # reduced on the driver) — an unpartitioned row_number window would
    # funnel every matching doc's score through ONE task first. The rank
    # window after the limit only ever sees 20 rows.
    top = (
        scored.select("doc_id", F.round("score", 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    return top.withColumn("rnk", F.row_number().over(w))


@query(
    "dataset_split_counts",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100 AS bk,
             len(string_split(lower(text), ' ')) AS n_tok
      FROM documents
    )
    SELECT CASE WHEN bk < 80 THEN 'train'
                WHEN bk < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM b GROUP BY 1
    """,
)
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = stable_split(_t(spark, sf_dir, "documents"), "doc_id")
    return docs.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text").cast("long")).alias("n_tokens"),
    )


@query(
    "corpus_quota_sample",
    # corpus balancing: cap each language at its 20 highest-quality docs
    oracle="""
    WITH s AS (
      SELECT doc_id, lang,
             len(string_split(lower(text), ' ')) AS n_tok,
             length(replace(text, ' ', '')) AS n_alpha,
             len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('the','a','an','of','to','in','and','is','on','for'))) AS n_stop
      FROM documents
    ),
    q AS (
      SELECT doc_id, lang,
             floor((least(1.0, n_tok / 100.0) * 0.5 + (n_stop / n_tok) * 0.25
                    + least(1.0, (n_alpha / n_tok) / 8.0) * 0.25) * 10000) / 10000
                 AS quality
      FROM s
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY quality DESC, doc_id ASC) AS rnk
      FROM q
    )
    SELECT lang, doc_id, quality, rnk FROM r WHERE rnk <= 20
    """,
)
def q_corpus_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import topk_per_group

    scored = _t(spark, sf_dir, "documents").select(
        "lang", "doc_id", quality_score("text").alias("quality")
    )
    out = topk_per_group(
        scored,
        ["lang"],
        # quality desc (floored 4dp, so rank ties are exact), doc_id asc
        [F.col("quality"), -F.col("doc_id")],
        k=20,
        descending=True,
        keep_rank=True,
    )
    return out.select("lang", "doc_id", "quality", F.col("rn").alias("rnk"))


@query(
    "sequence_pack_chunks",
    # Greedy running-sum packing: within each hash shard, docs are laid
    # out in id order and cut into chunks of <= 2048 tokens (a doc longer
    # than the budget gets its own chunk). chunk = floor(cumulative
    # tokens BEFORE this doc / budget) — the standard prefix-sum
    # formulation of concat-and-split packing.
    oracle="""
    WITH t AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 8 AS shard,
             len(string_split(lower(text), ' ')) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, shard, n_tok,
             COALESCE(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS prior_tok
      FROM t
    )
    SELECT doc_id, shard, n_tok,
           CAST(floor(prior_tok / 2048) AS INT) AS chunk_id
    FROM c
    """,
)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing for training batches. The global sort a naive
    packer needs is replaced by independent per-shard prefix sums: shard =
    md5 bucket (stable, engine-agnostic), so each shard's window sorts
    only its own slice — at 100 TB the shards pack in parallel and no
    single-partition global ORDER BY exists."""
    from ..functions.splits import split_bucket

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        split_bucket("doc_id", 8).alias("shard"),
        token_count("text").cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return docs.select(
        "doc_id",
        "shard",
        "n_tok",
        F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / 2048)
        .cast("int")
        .alias("chunk_id"),
    )


@query(
    "text_vocab_stats",
    oracle="""
    SELECT t AS word, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
          FROM documents)
    GROUP BY t
    """,
)
def q_text_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
    )


@query(
    "text_pii_redact",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || ' reach user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or +1-555-867-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' ssn 987-65-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.' || CAST(doc_id % 100 AS VARCHAR) AS t
      FROM documents
    ),
    red AS (
      SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(t,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
              '[+]?[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
            '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
          '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '<IP>', 'g') AS r
      FROM aug
    )
    SELECT doc_id, md5(r) AS red_md5, length(r) AS red_len
    FROM red
    """,
)
def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus (emails / phones / SSNs / IPv4 → typed
    tags). The testdata text is synthetic word-salad with no natural PII,
    so the query first injects a deterministic doc_id-derived email, phone,
    SSN and IP into every row, then proves `redact_pii` strips all four —
    the oracle recomputes the same injection+redaction in DuckDB and
    compares md5 of the result. Map-only regexp_replace chain: zero
    shuffle, whole-stage codegen, linear scan at any scale."""
    from ..functions.text import redact_pii

    d = F.col("doc_id")
    pad4 = F.lpad((d % 10000).cast("string"), 4, "0")
    aug = F.concat(
        F.col("text"),
        F.lit(" reach user"), d.cast("string"),
        F.lit("@mail.example.com or +1-555-867-"), pad4,
        F.lit(" ssn 987-65-"), pad4,
        F.lit(" from 10.0."), (d % 256).cast("string"),
        F.lit("."), (d % 100).cast("string"),
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", aug.alias("t"))
    red = docs.select("doc_id", redact_pii("t").alias("r"))
    return red.select(
        "doc_id",
        F.md5("r").alias("red_md5"),
        F.length("r").cast("long").alias("red_len"),
    )


@query(
    "text_repetition_score",
    oracle="""
    WITH tk AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    ix AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
           FROM tk WHERE len(t) >= 3),
    ng AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
           FROM ix),
    na AS (SELECT doc_id, count(*) AS n_ngrams,
                  count(DISTINCT s) AS nd_ngrams
           FROM ng GROUP BY doc_id),
    ta AS (SELECT doc_id, len(t) AS n_tokens,
                  len(list_distinct(t)) AS nd_tokens
           FROM tk WHERE len(t) >= 3)
    SELECT ta.doc_id, ta.n_tokens, na.n_ngrams,
           floor((1.0 - CAST(nd_tokens AS DOUBLE) / n_tokens) * 10000)
               / 10000 AS dup_token_ratio,
           floor((1.0 - CAST(nd_ngrams AS DOUBLE) / n_ngrams) * 10000)
               / 10000 AS dup_ngram_ratio
    FROM ta JOIN na USING (doc_id)
    """,
)
def q_text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/degenerate-text detector: per-doc duplicated-token and
    duplicated-3-gram fractions. Pure map-side HOFs over a pre-bound
    token column (lambda bodies get no CSE — binding first avoids
    re-tokenizing per element); zero shuffle."""
    from ..functions.text import repetition_ratios, tokens

    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("__toks", tokens("text"))
        .filter(F.size("__toks") >= 3)
    )
    r = repetition_ratios(F.col("__toks"), n=3)
    return d.select(
        "doc_id",
        r["n_tokens"].alias("n_tokens"),
        r["n_ngrams"].alias("n_ngrams"),
        r["dup_token_ratio"].alias("dup_token_ratio"),
        r["dup_ngram_ratio"].alias("dup_ngram_ratio"),
    )


@query(
    "explode_tokens_pos",
    oracle="""
    WITH tk AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t
      FROM documents WHERE doc_id < 40
    ),
    ix AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS pos
           FROM tk)
    SELECT doc_id, pos, t[pos] AS token FROM ix
    """,
)
def q_explode_tokens_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode — the LATERAL/UNNEST WITH ORDINALITY flattening op.
    Row-multiplying but map-local (no shuffle); bounded here to 40 docs
    to keep the gate result small."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .withColumn("__toks", F.split(F.lower("text"), " "))
    )
    return d.select(
        "doc_id", F.posexplode("__toks").alias("pos", "token")
    ).select("doc_id", (F.col("pos") + 1).alias("pos"), "token")


@query(
    "doc_chunk_overlap",
    oracle="""
    WITH tk AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    ix AS (SELECT doc_id, t,
                  unnest(generate_series(1, len(t), 24)) AS s
           FROM tk)
    SELECT doc_id,
           CAST((s - 1) / 24 + 1 AS BIGINT) AS chunk_id,
           CAST(len(t[s : s + 31]) AS BIGINT) AS n_tokens,
           array_to_string(t[s : s + 31], ' ') AS chunk_text
    FROM ix
    """,
)
def q_doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token chunking (size 32, stride 24 → 8-token overlap)
    — the context-window splitter every RAG/pretraining pipeline needs.
    Chunk starts come from a per-doc `sequence`, chunks from `slice`
    over a pre-bound token column (no re-tokenization inside the HOF
    lambda); row-multiplying but map-local — zero shuffle at any
    scale."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "__toks", F.split(F.lower("text"), " ")
    )
    starts = F.sequence(F.lit(1), F.greatest(F.size("__toks"), F.lit(1)), F.lit(24))
    return (
        d.select("doc_id", "__toks", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            (((F.col("s") - 1) / 24).cast("long") + 1).alias("chunk_id"),
            F.size(F.slice("__toks", F.col("s"), 32)).cast("long").alias("n_tokens"),
            F.concat_ws(" ", F.slice("__toks", F.col("s"), 32)).alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# Web-corpus curation: per-domain stats from URL parsing. A crawl-derived
# corpus needs docs-per-domain counts to downsample overrepresented hosts
# (the C4/RefinedWeb curation step); the testdata has no URL column, so the
# query synthesizes a deterministic URL per doc from (source, lang, doc_id,
# n_chars) and then REALLY parses it back with parse_url — the JVM-side
# java.net.URI path a crawl pipeline would run, not string games.
# ---------------------------------------------------------------------------


@query(
    "url_domain_stats",
    oracle="""
    WITH u AS (
      SELECT 'https://' || source || '.example.com/docs/' || lang || '/'
               || doc_id || '?ref=' || n_chars AS url,
             n_chars, lang
      FROM documents
    )
    SELECT split_part(split_part(url, '//', 2), '/', 1) AS host,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           count(DISTINCT lang) AS n_langs,
           max(CAST(regexp_extract(url, 'ref=([0-9]+)', 1) AS BIGINT)) AS max_ref
    FROM u
    GROUP BY 1
    """,
)
def q_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse host + query param out of URLs (parse_url → java.net.URI,
    whole-stage codegen) and aggregate per domain. One map pass + one
    hash-agg shuffle keyed on host (partial aggregation collapses each
    domain to one row per task first, so the shuffle carries |domains|
    rows per task, not |docs|). Skewed domains (one host = 40% of a
    crawl) are exactly what AQE skew handling + the salted-agg variant
    (operators/skew.py) are for."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), "source", F.lit(".example.com/docs/"), "lang",
        F.lit("/"), F.col("doc_id").cast("string"),
        F.lit("?ref="), F.col("n_chars").cast("string"),
    )
    u = d.select(url.alias("url"), "n_chars", "lang")
    return (
        u.select(
            F.parse_url("url", F.lit("HOST")).alias("host"),
            "n_chars",
            "lang",
            F.parse_url("url", F.lit("QUERY"), F.lit("ref"))
            .cast("long")
            .alias("ref"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.count_distinct("lang").alias("n_langs"),
            F.max("ref").alias("max_ref"),
        )
    )


@query(
    "text_unigram_nll",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    freq AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
    tot AS (SELECT count(*) AS total FROM tok)
    SELECT doc_id,
           count(*) AS n_tokens,
           round(avg(-ln(cnt / total)), 4) AS nll,
           round(exp(avg(-ln(cnt / total))), 4) AS ppl
    FROM tok JOIN freq USING (term) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def q_text_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring: per-doc average negative log-likelihood
    (and its exp, perplexity) under the corpus's own unigram model — the
    classic cheap LM-based quality filter for pretraining data (docs with
    outlier perplexity are boilerplate, gibberish, or wrong-language).

    Scale: the model build is one explode→term agg whose output is
    |vocab| rows (bounded, broadcast back); the corpus total is ONE row.
    Scoring is then a map-side broadcast join + one hash-agg keyed on
    doc_id with map-side partial aggregation — two bounded shuffles
    total, no UDFs, all whole-stage codegen."""
    from ..functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    neg_logp = -F.log(F.col("cnt") / F.col("total"))
    return (
        toks.join(F.broadcast(freq), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(neg_logp), 4).alias("nll"),
            F.round(F.exp(F.avg(neg_logp)), 4).alias("ppl"),
        )
    )


@query(
    "text_boilerplate_ratio",
    oracle="""
    WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                FROM documents),
    ix AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
           FROM tk WHERE len(t) >= 3),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
           FROM ix),
    n AS (SELECT count(*) AS n_docs FROM documents),
    df AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
    boiler AS (SELECT s FROM df, n WHERE df > greatest(3, n_docs * 0.003)),
    per AS (
      SELECT sh.doc_id AS doc_id, count(*) AS n_shingles,
             count(b.s) AS n_boiler
      FROM sh LEFT JOIN boiler b ON sh.s = b.s
      GROUP BY sh.doc_id
    )
    SELECT doc_id, n_shingles, n_boiler,
           round(n_boiler / n_shingles, 4) AS boiler_ratio,
           round(n_boiler / n_shingles, 4) <= 0.5 AS keep
    FROM per
    """,
)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate 3-gram detection + per-doc templated-span
    ratio and keep gate (operators.dedup.boilerplate_ratio) — the
    line/span-level dedup web-corpus pipelines run before training."""
    from ..operators.dedup import boilerplate_ratio

    out = boilerplate_ratio(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, df_frac=0.003, min_df=3, keep_max_ratio=0.5,
    )
    return out.withColumnRenamed("id", "doc_id")


@query(
    "domain_mixture_weights",
    oracle="""
    WITH c AS (SELECT source, count(*) AS n_docs FROM documents
               GROUP BY source),
    t AS (SELECT sum(pow(n_docs, 0.7)) AS z FROM c)
    SELECT source, n_docs,
           round(pow(n_docs, 0.7) / z, 6) AS weight,
           CAST(floor(10000 * pow(n_docs, 0.7) / z + 1e-6) AS BIGINT)
             AS expected_docs
    FROM c, t
    """,
)
def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixture weighting (α = 0.7): sampling
    weight ∝ count^α — the standard pre-training data-mixing rule that
    upweights small domains relative to proportional sampling. Output:
    per-source weight and expected docs drawn for a 10 000-doc budget.

    Scale: one source-keyed count agg; the normalizer reduces to a single
    broadcast scalar — no second pass over the corpus."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    z = c.agg(F.sum(F.pow("n_docs", 0.7)).alias("z"))
    w = F.pow("n_docs", 0.7) / F.col("z")
    return c.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        F.round(w, 6).alias("weight"),
        # +1e-6 before floor: engines may land on either side of an exact
        # integer (e.g. 20 equal domains → weight exactly 1/20) by ~1 ulp
        F.floor(F.lit(10000) * w + F.lit(1e-6)).cast("long").alias("expected_docs"),
    )


@query(
    "text_oov_rate",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
                 FROM documents),
    tf AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
    tot AS (SELECT sum(c) AS n FROM tf),
    vocab AS (SELECT t FROM tf, tot WHERE c >= n * 0.01),
    per AS (SELECT tok.doc_id AS doc_id, count(*) AS n_tok,
                   count(v.t) AS n_invocab
            FROM tok LEFT JOIN vocab v ON tok.t = v.t
            GROUP BY tok.doc_id)
    SELECT doc_id, n_tok, n_tok - n_invocab AS n_oov,
           round((n_tok - n_invocab) / n_tok, 4) AS oov_rate
    FROM per
    """,
)
def q_text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNK/OOV-rate under a frequency-cut vocabulary: tokens with corpus
    frequency < 1% of instances are out-of-vocabulary; per doc, the
    fraction of token INSTANCES that are OOV — the tokenizer-coverage
    check run before committing to a vocab size.

    Scale: one token-keyed count agg; the retained vocabulary is bounded
    by 1/cut (≤ 100 tokens at a 1% cut) regardless of corpus size, so it
    broadcasts back; per-doc scoring is one doc-keyed agg — the same
    bounded-broadcast shape as boilerplate_ratio."""
    from ..functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("t"))
    tf = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    tot = tf.agg(F.sum("c").alias("n"))
    vocab = (
        tf.crossJoin(F.broadcast(tot))
        .filter(F.col("c") >= F.col("n") * 0.01)
        .select("t", F.lit(1).alias("in_v"))
    )
    return (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.count("in_v").alias("n_invocab"),
        )
        .select(
            "doc_id",
            "n_tok",
            (F.col("n_tok") - F.col("n_invocab")).alias("n_oov"),
            F.round(
                (F.col("n_tok") - F.col("n_invocab")) / F.col("n_tok"), 4
            ).alias("oov_rate"),
        )
    )


@query(
    "url_canonicalize",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
             || '://'
             || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM' ELSE 'www.example.com' END)
             || ':443/docs/' || CAST(doc_id // 2 AS VARCHAR)
             || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed' ELSE '' END)
             || (CASE WHEN doc_id % 5 = 0 THEN '#sec-2' ELSE '' END)
               AS url
      FROM documents
    ),
    c AS (
      SELECT url,
        regexp_replace(
          regexp_replace(
            lower(regexp_extract(url, '^[^/]+//[^/]+', 0))
              || substr(url, length(regexp_extract(url, '^[^/]+//[^/]+', 0)) + 1),
            '^([a-z]+://[^/:]+):443(/|$)', '\\1\\2'),
          '/$', '') AS canon
      FROM (
        SELECT regexp_replace(regexp_replace(url, '#.*$', ''),
                              '\\?utm_[a-z]+=[^&]*$', '') AS url
        FROM u
      )
    )
    SELECT canon AS canonical_url, count(*) AS n_raw,
           count(DISTINCT url) AS n_distinct_raw
    FROM c GROUP BY canon
    """,
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for web-corpus dedup: strip fragments and
    tracking params, lowercase scheme+host (path case preserved), drop
    the default port — then count raw variants per canonical form (the
    pre-dedup collapse step every crawl pipeline runs before content
    hashing). Map-only normalization (regexp chain, whole-stage codegen)
    + one canonical-keyed agg."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("WWW.Example.COM")).otherwise(
            F.lit("www.example.com")
        ),
        F.lit(":443/docs/"),
        F.floor(F.col("doc_id") / 2).cast("long").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("?utm_source=feed")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#sec-2")).otherwise(F.lit("")),
    )
    u = d.select(url.alias("url"))
    # every pattern is ANCHORED so it matches at most once — Spark's
    # regexp_replace replaces ALL matches, DuckDB's replaces the FIRST;
    # anchoring makes the two provably agree on any input, not just the
    # synthetic one. (A general multi-param tracking strip would need a
    # g-flagged per-param normalizer; the generator emits one '?utm_*'.)
    stripped = F.regexp_replace(
        F.regexp_replace("url", F.lit("#.*$"), F.lit("")),
        F.lit(r"\?utm_[a-z]+=[^&]*$"),
        F.lit(""),
    )
    u = u.select(stripped.alias("url"))
    prefix = F.regexp_extract("url", "^[^/]+//[^/]+", 0)
    lowered = F.concat(
        F.lower(prefix), F.expr("substr(url, length(regexp_extract(url, '^[^/]+//[^/]+', 0)) + 1)")
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            lowered, F.lit("^([a-z]+://[^/:]+):443(/|$)"), F.lit("$1$2")
        ),
        F.lit("/$"),
        F.lit(""),
    )
    return (
        u.select("url", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.countDistinct("url").alias("n_distinct_raw"),
        )
    )


@query(
    "domain_mixture_sample",
    oracle="""
    WITH c AS (SELECT source, count(*) AS n_docs FROM documents
               GROUP BY source),
    t AS (SELECT sum(pow(n_docs, 0.7)) AS z, sum(n_docs) AS n FROM c),
    r AS (SELECT source, n_docs,
                 least(1.0, (pow(n_docs, 0.7) / z) * (n * 0.3) / n_docs)
                   AS rate
          FROM c, t),
    kept AS (
      SELECT d.source
      FROM documents d JOIN r ON d.source = r.source
      WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT
              % 10000 < floor(r.rate * 10000 + 1e-6)
    )
    SELECT r.source, r.n_docs, round(r.rate, 6) AS rate,
           count(k.source) AS n_sampled
    FROM r LEFT JOIN kept k ON r.source = k.source
    GROUP BY r.source, r.n_docs, r.rate
    """,
)
def q_domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the temperature mixture: per-domain acceptance rate
    w_d·B/c_d (budget B = 30% of the corpus, capped at 1), then a
    DETERMINISTIC md5-bucket keep decision per doc — the same stable-hash
    idiom as dataset splits, so the sample is reproducible across runs,
    partitionings and engines (no rand()). Output: per-domain rate and
    realized sample size.

    Scale: counts + normalizer reduce to |domains| broadcast rows; the
    keep decision is a map-side filter — one corpus scan, one small agg."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    t = c.agg(
        F.sum(F.pow("n_docs", 0.7)).alias("z"), F.sum("n_docs").alias("n")
    )
    r = c.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        F.least(
            F.lit(1.0),
            (F.pow("n_docs", 0.7) / F.col("z"))
            * (F.col("n") * 0.3)
            / F.col("n_docs"),
        ).alias("rate"),
    )
    # 24-bit hash mod 10000 (not split_bucket's 16-bit): 65536 % 10000
    # leaves a ~7% modulo bias on the acceptance rate; 16^6 % 10000 keeps
    # the realized rate within ~0.06% of w_d*B/c_d
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long") % 10000
    )
    kept = (
        docs.join(F.broadcast(r), "source")
        .filter(bucket < F.floor(F.col("rate") * 10000 + F.lit(1e-6)))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return (
        r.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            F.round("rate", 6).alias("rate"),
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
        )
    )


@query(
    "text_hash_classifier",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             ('0x' || substr(md5(term), 1, 15))::BIGINT
               / 1152921504606846975.0 * 2 - 1 AS wt
      FROM tok
    )
    SELECT doc_id, count(*) AS n_tokens,
           round(avg(wt), 4) AS score,
           avg(wt) > 0 AS keep
    FROM w GROUP BY doc_id
    """,
)
def q_text_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear classifier scoring (fasttext-style quality
    gate): each token's weight is looked up by HASH, not by vocab join —
    w(t) = portable_token_hash(t)/2^60·2−1 stands in for a learned
    weight vector indexed by `hash(token) % dim` (deterministic here so
    DuckDB can replicate it; swapping in trained weights changes the
    lambda, not the plan). Score = mean token weight, keep = score > 0.

    Scale: this is the ZERO-shuffle quality filter — no vocab build, no
    broadcast, no explode. The whole computation is one `aggregate` fold
    over `split(text)` fused into the parquet scan (map-only,
    whole-stage codegen), so it runs at scan speed on 100 TB and is the
    shape you want when the weight table is hashed (hashing trick)
    rather than vocab-addressed (`text_unigram_nll` shows the
    vocab-broadcast alternative)."""
    from ..functions.text import tokens

    toks = tokens("text")
    denom = F.lit(1152921504606846975.0)  # 2^60 - 1: 60-bit md5 prefix range
    wt = (
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
        / denom
        * 2
        - 1
    )
    total = F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + wt(t))
    score = F.try_divide(total, F.size(toks))
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(score, 4).alias("score"),
        (score > 0).alias("keep"),
    )


@query(
    "corpus_shard_manifest",
    oracle="""
    SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 64 AS shard,
           count(*) AS n_docs,
           sum(n_chars)::BIGINT AS total_chars,
           sum(len(string_split(lower(text), ' ')))::BIGINT AS total_tokens,
           min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
    FROM documents
    GROUP BY shard
    ORDER BY shard
    """,
)
def q_corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment + export manifest: every
    doc lands in `md5(doc_id) % 64` — stable under corpus growth (a doc
    never changes shard when neighbors arrive, unlike round-robin or
    sort-based sharding) and key-uniform, so the 64 writer tasks stay
    balanced without a range-partition pre-pass. The manifest row per
    shard (doc/char/token totals) is what the trainer's data loader
    reads to plan epochs without touching the shards.

    Scale: one hash-keyed aggregation with map-side partials over 64
    groups — no sort, no skew (md5 uniformity), and the shard id doubles
    as the `repartition(64, shard)` key for the actual export write so
    manifest and data files are produced by the same shuffle."""
    d = _t(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 64
    )
    from ..functions.text import tokens

    return (
        d.select(
            shard.alias("shard"),
            "doc_id",
            "n_chars",
            F.size(tokens("text")).alias("n_tok"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_tok").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("shard")
    )


@query(
    "corpus_budget_select",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             ('0x' || substr(md5(term), 1, 15))::BIGINT
               / 1152921504606846975.0 * 2 - 1 AS wt
      FROM tok
    ),
    scored AS (
      SELECT doc_id AS id, round(avg(wt), 4) AS score,
             count(*)::BIGINT AS weight
      FROM w GROUP BY doc_id
    ),
    c AS (
      SELECT *, sum(weight) OVER (ORDER BY score DESC, id) AS cum
      FROM scored
    )
    SELECT id, score, weight FROM c WHERE cum <= 8000
    """,
)
def q_corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection (`functions.splits.budget_select`):
    admit the highest-scoring documents (hashing-trick classifier score,
    quantized to 4 dp with ascending-id tie-break) until 8 000 tokens
    are spent. The ORACLE is the naive global window cumsum — the Spark
    side is the two-phase bucket-threshold form that avoids the global
    sort; both implement the identical greedy admission rule, so they
    agree row-for-row. At sf0.001 the whole corpus fits the budget
    (exercising the fits-entirely branch); at sf0.01+ the cutoff-bucket
    path runs."""
    from ..functions.splits import budget_select
    from ..functions.text import tokens
    from ..session import fan_out

    toks = tokens("text")
    denom = F.lit(1152921504606846975.0)
    wt = (
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
        / denom
        * 2
        - 1
    )
    score = F.try_divide(
        F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + wt(t)), F.size(toks)
    )
    # fan_out (r10): the per-token md5 score fold is the dominant cost
    # and ran at the scan's split width (3 tasks, 0.84 s serialized at
    # sf0.1); no-op at real scale
    docs = fan_out(_t(spark, sf_dir, "documents")).select(
        "doc_id", score.alias("s"), F.size(toks).alias("n_tok")
    )
    return budget_select(docs, "doc_id", "s", "n_tok", budget=8000)


@query(
    "text_bigram_nll",
    oracle="""
    WITH tk AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    bg AS (
      SELECT doc_id, t[i-1] AS prev, t[i] AS cur
      FROM (SELECT doc_id, t, unnest(generate_series(2, len(t))) AS i
            FROM tk WHERE len(t) >= 2)
    ),
    bc AS (SELECT prev, cur, count(*) AS c2 FROM bg GROUP BY prev, cur),
    cc AS (SELECT prev, count(*) AS c1 FROM bg GROUP BY prev)
    SELECT doc_id,
           count(*) AS n_bigrams,
           round(avg(-ln(c2 / c1)), 4) AS bnll,
           round(exp(avg(-ln(c2 / c1))), 4) AS bppl
    FROM bg JOIN bc USING (prev, cur) JOIN cc USING (prev)
    GROUP BY doc_id
    """,
)
def q_text_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring — the conditional-probability upgrade of
    `text_unigram_nll`: per-doc average −ln P(tᵢ | tᵢ₋₁) under the
    corpus's own bigram model (and its exp, conditional perplexity).
    Bigram surprise separates fluent text from word-salad that unigram
    frequency can't (each word common, the SEQUENCE improbable) — the
    standard second LM gate in pretraining pipelines.

    Scale: bigram construction is ZERO-shuffle — a `zip_with` over the
    token array's two offset slices, fused into the scan (no
    self-join-on-position). The model is two corpus-bounded aggregations
    (bigram and context counts); scoring joins them back keyed on the
    bigram — deliberately NOT broadcast (a 100 TB corpus's bigram table
    outgrows any broadcast budget; the join stays a keyed shuffle that
    AQE broadcast-converts while small). One doc-keyed agg finishes."""
    from ..functions.text import tokens

    toks = tokens("text")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
    )
    from ..session import fan_out

    # fan_out (r10): the slice/zip_with bigram explode is re-run by all
    # three consumers (bc, cc, probe) at the scan's split width — one
    # effective task on a single-row-group file, ~1.4 s serialized at
    # sf0.1; no-op at real scale
    bg = (
        fan_out(_t(spark, sf_dir, "documents"))
        .select("doc_id", F.explode(bigrams).alias("b"))
        .select("doc_id", F.col("b.prev").alias("prev"), F.col("b.cur").alias("cur"))
    )
    bc = bg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c2"))
    cc = bg.groupBy("prev").agg(F.count(F.lit(1)).alias("c1"))
    nll = -F.log(F.col("c2") / F.col("c1"))
    return (
        bg.join(bc, ["prev", "cur"]).join(cc, ["prev"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(nll), 4).alias("bnll"),
            F.round(F.exp(F.avg(nll)), 4).alias("bppl"),
        )
    )


# ---------------------------------------------------------------------------
# r7: tokenizer-true BPE — vocab, encoded lengths, packing parity
# (VERDICT r6 #6). The DuckDB oracle re-trains the SAME BPE end-to-end
# in pure SQL: merge rounds are unrolled as generated CTEs; each round
# counts adjacent symbol pairs (occurrence-weighted) over the current
# segmentation, picks argmax with the (count DESC, l ASC, r ASC) total
# order, and applies the merge via fixpoint `replace` on the
# boundary-padded segment string (' a b ' → ' ab ', 4 passes). The
# fixpoint-replace application equals the greedy left-to-right scan for
# every word without a ≥5-run of one symbol — no such word exists in
# this corpus, and the hash gate would fail loudly if one appeared.
# ---------------------------------------------------------------------------

_BPE_MERGES = 16


def _bpe_sql(num_merges: int = _BPE_MERGES, vocab_cap: int = 65536) -> str:
    """Round-unrolled BPE training as a WITH-clause body (no leading
    WITH): exposes `tok(doc_id, w)`, `seg{N}(w, freq, seg)` and
    `bpe_vocab(rank, lhs, rhs, merged)`.

    r8 (advisor): the oracle mirrors `train_bpe`'s deterministic
    `vocab_cap` — pair statistics (`pairs{{k}}`) count only the top-K
    (freq DESC, w ASC) word forms, exactly the table the Spark trainer
    collects, while the learned merges still APPLY to every word
    (`seg{{k}}` is uncapped — matching the Spark encode path, which
    segments all distinct words). Inert at gated SFs (vocab ≪ cap) but
    the contract now fails loudly on BOTH sides if a corpus crosses it."""
    parts = [
        f"""
    tok AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
      ) WHERE w <> ''
    ),
    wf AS MATERIALIZED (SELECT w, count(*) AS freq FROM tok GROUP BY w),
    wfc AS MATERIALIZED (
      SELECT w FROM wf ORDER BY freq DESC, w ASC LIMIT {vocab_cap}
    ),
    seg0 AS MATERIALIZED (
      SELECT w, freq,
             ' ' || array_to_string(
               list_transform(generate_series(1, length(w)), i -> w[i]),
               ' ') || ' ' AS seg
      FROM wf
    )"""
    ]
    for k in range(1, num_merges + 1):
        p = k - 1
        parts.append(f"""
    pairs{k} AS MATERIALIZED (
      SELECT syms[i] AS l, syms[i + 1] AS r, sum(freq) AS c
      FROM (
        SELECT freq, syms, unnest(generate_series(1, len(syms) - 1)) AS i
        FROM (SELECT freq, string_split(trim(seg), ' ') AS syms
              FROM seg{p} JOIN wfc USING (w))
        WHERE len(syms) >= 2
      ) GROUP BY 1, 2
    ),
    best{k} AS MATERIALIZED (
      SELECT l, r, ' ' || l || ' ' || r || ' ' AS pat,
             ' ' || l || r || ' ' AS rep
      FROM pairs{k} ORDER BY c DESC, l ASC, r ASC LIMIT 1
    ),
    seg{k} AS MATERIALIZED (
      SELECT s.w, s.freq,
             CASE WHEN b.l IS NULL THEN s.seg ELSE
               replace(replace(replace(replace(s.seg,
                 b.pat, b.rep), b.pat, b.rep), b.pat, b.rep), b.pat, b.rep)
             END AS seg
      FROM seg{p} s LEFT JOIN best{k} b ON true
    )""")
    ranks = "\n      UNION ALL\n".join(
        f"      SELECT {k} AS rank, l AS lhs, r AS rhs, l || r AS merged "
        f"FROM best{k}"
        for k in range(1, num_merges + 1)
    )
    parts.append(f"""
    bpe_vocab AS (
{ranks}
    )""")
    return ",".join(parts)


def _trained_merges(spark: SparkSession, sf_dir: str):
    from ..functions.bpe import train_bpe

    return train_bpe(
        _t(spark, sf_dir, "documents"), "text", num_merges=_BPE_MERGES
    )


@query(
    "text_bpe_vocab",
    oracle=f"""
    WITH {_bpe_sql()}
    SELECT rank, lhs, rhs, merged FROM bpe_vocab
    """,
)
def q_text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table itself, hash-gated against the SQL
    re-training: distributed (word, freq) sufficient statistic →
    driver-bounded merge loop (`functions.bpe.train_bpe`)."""
    from ..functions.bpe import bpe_merges_frame

    return bpe_merges_frame(spark, _trained_merges(spark, sf_dir))


@query(
    "text_bpe_encode",
    oracle=f"""
    WITH {_bpe_sql()},
    lens AS (
      SELECT w, len(string_split(trim(seg), ' ')) AS n FROM seg{_BPE_MERGES}
    )
    SELECT t.doc_id, count(*) AS n_words,
           sum(n)::BIGINT AS n_bpe_tokens
    FROM tok t JOIN lens USING (w)
    GROUP BY t.doc_id
    """,
)
def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True per-doc subword counts under the trained merges. The Spark
    side re-ENCODES (merges applied in rank order per distinct word —
    an independent path from the oracle, which reads the final training
    segmentation; the two agree by the standard rank-order/training
    equivalence), then joins lengths back and aggregates per doc."""
    from ..functions.bpe import bpe_doc_token_counts

    merges = _trained_merges(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    out = bpe_doc_token_counts(docs, merges)
    return out.select("doc_id", "n_words", "n_bpe_tokens")


@query(
    "sequence_pack_bpe",
    # sequence_pack_chunks on TRUE subword counts: same md5-shard
    # prefix-sum packing, budget 512 BPE tokens per chunk.
    oracle=f"""
    WITH {_bpe_sql()},
    lens AS (
      SELECT w, len(string_split(trim(seg), ' ')) AS n FROM seg{_BPE_MERGES}
    ),
    dtok AS (
      SELECT t.doc_id, sum(n)::BIGINT AS n_tok
      FROM tok t JOIN lens USING (w) GROUP BY t.doc_id
    ),
    c AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 8
                 AS shard,
             n_tok
      FROM dtok
    )
    SELECT doc_id, shard, n_tok,
           CAST(floor(
             COALESCE(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / 512) AS INT) AS chunk_id
    FROM c
    """,
)
def q_sequence_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing parity on tokenizer-true counts (VERDICT r6 #6 'done'
    condition): identical plan shape to `sequence_pack_chunks` — hash
    shards, per-shard prefix sums, no global ORDER BY — but the running
    sum is over real BPE token counts, so chunk boundaries are the ones
    a trainer consuming this tokenizer would see."""
    from pyspark.sql import Window

    from ..functions.bpe import bpe_doc_token_counts
    from ..functions.splits import split_bucket

    merges = _trained_merges(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    counts = bpe_doc_token_counts(docs, merges).select(
        "doc_id",
        split_bucket("doc_id", 8).alias("shard"),
        F.col("n_bpe_tokens").cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return counts.select(
        "doc_id",
        "shard",
        "n_tok",
        F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / 512)
        .cast("int")
        .alias("chunk_id"),
    )


_URI_PREFIX = "http://corpus.example/doc/"


def _fixture_dir(kind: str, sf_dir: str) -> str:
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return os.path.join(tempfile.gettempdir(), f"{kind}_fixture_{tag}")


def _warc_rec(
    body: bytes = b"payload body",
    uri: str = "http://x/ok",
    version: str = "WARC/1.0",
    clen: str | None = None,
    drop_id: bool = False,
) -> bytes:
    h = [
        version.encode(),
        b"WARC-Type: conversion",
        b"WARC-Target-URI: " + uri.encode(),
        b"WARC-Date: 2024-01-01T00:00:00Z",
    ]
    if not drop_id:
        h.append(b"WARC-Record-ID: <urn:uuid:fixture>")
    h.append(
        b"Content-Length: "
        + (str(len(body)) if clen is None else clen).encode()
    )
    return b"\r\n".join(h) + b"\r\n\r\n" + body + b"\r\n\r\n"


@query(
    "source_warc_read",
    oracle="SELECT doc_id, text FROM documents",
)
def q_source_warc_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC/WET round trip under the oracle gate (VERDICT r9 #5): the
    documents table is written as gzip-multi-member WET conversion
    records (one file per partition — the Common Crawl unit of
    parallelism; payload bytes never shuffle on either leg), a corrupt
    trailing file is planted, and `read_warc_with_rejects` must recover
    every good record byte-exactly (doc_id parsed back from the target
    URI, text from the length-delimited payload) while the plant lands
    in the reject channel (pinned by `source_warc_rejects`), never in a
    task failure."""
    from ..session import fan_out
    from ..sources.warc import read_warc_with_rejects, write_warc

    tmp = _fixture_dir("warc", sf_dir)
    shutil.rmtree(tmp, ignore_errors=True)
    src = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text")).select(
        F.concat(F.lit(_URI_PREFIX), F.col("doc_id")).alias("target_uri"),
        "text",
    )
    write_warc(src, tmp)
    with open(os.path.join(tmp, "part-corrupt.wet.gz"), "wb") as f:
        f.write(gzip.compress(_warc_rec(clen="xx")))  # diverts, not fails
    good, _rejects = read_warc_with_rejects(spark, tmp)
    return good.select(
        F.regexp_extract("target_uri", "doc/([0-9]+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.decode("payload", "utf-8").alias("text"),
    )


@query(
    "source_warc_rejects",
    # every malformation class the parser diverts, planted exactly once
    oracle="""
    SELECT * FROM (VALUES
      ('bad_content_length',        CAST(1 AS BIGINT)),
      ('bad_magic',                 CAST(1 AS BIGINT)),
      ('corrupt_gzip_member',       CAST(1 AS BIGINT)),
      ('good',                      CAST(3 AS BIGINT)),
      ('missing_required_header',   CAST(1 AS BIGINT)),
      ('payload_truncated',         CAST(1 AS BIGINT)),
      ('unsupported_warc_version',  CAST(1 AS BIGINT))
    ) AS t(reject_reason, n)
    """,
)
def q_source_warc_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reject-channel contract, reason by reason: a gzip WARC with a
    bad Content-Length, a missing mandatory header, an unsupported
    version, and a corrupt gzip member, plus a PLAIN (uncompressed)
    WARC with leading junk (bad magic) and a truncated final payload —
    interleaved with three good records that must all survive the
    resyncs (counted under the sentinel reason 'good'). Every reason
    count is pinned; a parser that silently skips or double-counts any
    class goes red here."""
    from ..sources.warc import read_warc_with_rejects

    tmp = _fixture_dir("warcrej", sf_dir)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with open(os.path.join(tmp, "a.warc.gz"), "wb") as f:
        f.write(gzip.compress(_warc_rec(uri="http://x/good1")))
        f.write(gzip.compress(_warc_rec(clen="xx")))
        f.write(gzip.compress(_warc_rec(drop_id=True)))
        f.write(gzip.compress(_warc_rec(version="WARC/9.9")))
        gz = gzip.compress(_warc_rec(uri="http://x/never"))
        f.write(gz[:18] + b"\xde\xad\xbe\xef")  # corrupt member, no resync tail
    with open(os.path.join(tmp, "b.warc"), "wb") as f:
        f.write(b"JUNK-NOT-WARC\r\n")  # bad magic, resync to next record
        f.write(_warc_rec(uri="http://x/good2"))
        f.write(_warc_rec(uri="http://x/good3"))
        f.write(_warc_rec(body=b"cut off here")[:-8])  # payload truncated
    good, rejects = read_warc_with_rejects(spark, tmp)
    return (
        rejects.groupBy("reject_reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .unionByName(
            good.agg(
                F.lit("good").alias("reject_reason"),
                F.count(F.lit(1)).alias("n"),
            )
        )
    )


@query(
    "text_html_extract",
    # the template-side strip must cancel EXACTLY: chrome containers,
    # tags, and entity escaping all vanish, so the oracle is just the
    # line gate (trim, keep >= 30 chars) over the clean text
    oracle="""
    SELECT doc_id,
           coalesce(
             list_aggregate(
               list_filter(
                 list_transform(string_split(text, chr(10)), x -> trim(x)),
                 x -> length(x) >= 30),
               'string_agg', chr(10)),
             '') AS main_text
    FROM documents
    """,
)
def q_text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → main-content extraction under the oracle gate (VERDICT r9
    #6): each doc's text is entity-escaped and embedded in a
    boilerplate-heavy page (title, style+script head, nav crumbs,
    header/footer/aside chrome, a share-button short-line cluster, an
    HTML comment) and `html_extract_text` must recover exactly the
    line-gated clean text — any chrome leakage, missed tag, wrong
    entity order, or gate drift shows up as a value mismatch. The
    pipeline is one chain of JVM regexp/array expressions over a scan:
    no shuffle, no Python, whole-stage codegen end to end."""
    from ..functions.text import html_extract_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    esc = F.col("text")
    for ch, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        esc = F.replace(esc, F.lit(ch), F.lit(ent))
    html = F.concat(
        F.lit(
            "<html><head><title>A page</title><style>body{color:red}"
            "</style><script>var x = '</div>';</script></head>\n"
            "<body><nav><a href='/'>Home</a> | <a href='/a'>About</a>"
            "</nav>\n<header><h1>Page heading</h1></header>\n"
            "<!-- rendered by corpus-gen -->\n"
            "<p>Share</p><p>Tweet</p><p>42 comments</p>\n"
            '<div id="main"><p>'
        ),
        esc,
        F.lit(
            "</p></div>\n<aside>Related: <a href='/x'>x</a></aside>\n"
            "<footer>&copy; 2024 Example Corp</footer></body></html>"
        ),
    )
    return docs.select(
        "doc_id",
        html_extract_text(html).alias("main_text"),
    )


@query(
    "text_nb_classifier",
    oracle="""
    WITH base AS (
      SELECT doc_id, text,
             CASE WHEN length(text) >= 180 THEN 1 ELSE 0 END AS label,
             doc_id % 10 < 8 AS is_train
      FROM documents
    ),
    tok AS (
      SELECT doc_id, label, is_train, t.term
      FROM base, unnest(string_split(lower(text), ' ')) AS t(term)
      WHERE t.term <> ''
    ),
    counts AS (
      SELECT term,
             sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS c0
      FROM tok WHERE is_train GROUP BY term HAVING count(*) >= 5
    ),
    tot AS (
      SELECT sum(c1) AS n1, sum(c0) AS n0, count(*) AS v FROM counts
    ),
    weights AS (
      SELECT term,
             CAST(round((ln((c1 + 1.0) / (tot.n1 + tot.v))
                   - ln((c0 + 1.0) / (tot.n0 + tot.v))) * 10000) AS BIGINT)
               AS w
      FROM counts CROSS JOIN tot
    ),
    prior AS (
      SELECT CAST(round(ln((sum(label) + 1.0)
                    / (count(*) - sum(label) + 1.0)) * 10000) AS BIGINT)
               AS p
      FROM base WHERE is_train
    ),
    tf AS (
      SELECT doc_id, label, term, count(*) AS tf
      FROM tok WHERE NOT is_train GROUP BY doc_id, label, term
    ),
    scored AS (
      SELECT tf.doc_id, tf.label,
             sum(tf.tf * weights.w) AS lik
      FROM tf JOIN weights USING (term)
      GROUP BY tf.doc_id, tf.label
    )
    SELECT base.doc_id,
           base.label,
           CAST(prior.p + coalesce(scored.lik, 0) AS BIGINT) AS nb_score_1e4,
           CASE WHEN prior.p + coalesce(scored.lik, 0) > 0
                THEN 1 ELSE 0 END AS pred
    FROM base CROSS JOIN prior
    LEFT JOIN scored ON scored.doc_id = base.doc_id
    WHERE NOT base.is_train
    """,
)
def q_text_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed multinomial Naive-Bayes quality classifier — the
    model-based filtering step of modern LLM curation (fastText-style
    classifiers in the GPT-3 / CCNet recipes): TRAIN on an 80% split
    against a deterministic weak label (doc length >= 180 chars), then
    SCORE the 20% held-out split with Laplace-smoothed log-likelihood
    ratios. Both phases are pure DataFrame aggregation — training a
    text classifier at 100 TB without leaving the JVM.

    Scale posture: training reduces to one (term,label)-keyed count of
    the train split (the only wide exchange over the big side); the
    model itself is the vocab-capped weight table (HAVING count>=5 —
    bounded rows) broadcast to the scoring join; totals/prior are
    1-row broadcast cross joins. Scoring shuffles only (doc,term)
    pairs of the 20% split. Weights are quantized to integer 1e-4 units
    (BIGINT) on both engines before the dot product, so the score is
    an EXACT integer sum — immune to FP summation order, which the
    first cut (4-dp rounded double sum) was not: one held-out doc
    landed within 1 ulp of a rounding boundary and hashed differently
    across sessions."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.when(F.length("text") >= 180, F.lit(1)).otherwise(0).alias(
            "label"
        ),
        (F.col("doc_id") % 10 < 8).alias("is_train"),
    )
    tok = docs.select(
        "doc_id",
        "label",
        "is_train",
        F.explode(F.split(F.lower("text"), " ")).alias("term"),
    ).filter(F.col("term") != "")
    counts = (
        tok.filter("is_train")
        .groupBy("term")
        .agg(
            F.sum(F.col("label")).alias("c1"),
            F.sum(1 - F.col("label")).alias("c0"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") >= 5)
    )
    tot = counts.agg(
        F.sum("c1").alias("n1"),
        F.sum("c0").alias("n0"),
        F.count(F.lit(1)).alias("v"),
    )
    weights = counts.crossJoin(F.broadcast(tot)).select(
        "term",
        F.round(
            (
                F.log((F.col("c1") + 1.0) / (F.col("n1") + F.col("v")))
                - F.log((F.col("c0") + 1.0) / (F.col("n0") + F.col("v")))
            )
            * 10000
        )
        .cast("long")
        .alias("w"),
    )
    prior = (
        docs.filter("is_train")
        .agg(
            F.round(
                F.log(
                    (F.sum("label") + 1.0)
                    / (F.count(F.lit(1)) - F.sum("label") + 1.0)
                )
                * 10000
            )
            .cast("long")
            .alias("p")
        )
    )
    tf = (
        tok.filter(~F.col("is_train"))
        .groupBy("doc_id", "label", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = (
        tf.join(F.broadcast(weights), "term")
        .groupBy("doc_id", "label")
        .agg(F.sum(F.col("tf") * F.col("w")).alias("lik"))
    )
    held = docs.filter(~F.col("is_train")).select("doc_id", "label")
    return (
        held.crossJoin(F.broadcast(prior))
        .join(scored.select("doc_id", "lik"), "doc_id", "left")
        .select(
            "doc_id",
            "label",
            (F.col("p") + F.coalesce(F.col("lik"), F.lit(0))).alias(
                "nb_score_1e4"
            ),
            F.when(
                F.col("p") + F.coalesce(F.col("lik"), F.lit(0)) > 0,
                F.lit(1),
            )
            .otherwise(0)
            .alias("pred"),
        )
    )
