"""Text-analysis family (north-star LLM-pipeline operators) over
``documents``.

Tokenization, quality heuristics, language-ID, and content
fingerprinting — all pure ``pyspark.sql.functions`` composition (no UDFs:
the whole family stays inside whole-stage codegen). Each query has an
exact DuckDB twin generated from the same builders in
``hadoop_fs_ceph_spark.functions.text``, so double arithmetic is
bit-identical across engines (int/int division + sequential folds).

Scale notes (100 TB): every query is embarrassingly parallel per-document
map work except the final aggregate; nothing shuffles more than
(group-key, partial-agg) rows. The reference repo offers no analog —
this is the engine layer the connector exists to feed (SURVEY.md §0;
reference is a FileSystem connector, `CephRgwFileSystem.java:98-147`).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark.barrier import eager_barrier
from hadoop_fs_ceph_spark.functions.text import (
    LANG_STOPWORDS,
    hashed_shingles,
    lang_scores,
    poly_hash,
    sql_hashed_shingles,
    sql_lang_score,
    sql_poly_hash,
    sql_token_hashes,
    token_hashes,
    tokens,
    word_tokens_regex,
)
from hadoop_fs_ceph_spark.functions.similarity import cosine, sql_cosine
from hadoop_fs_ceph_spark.registry import query
from hadoop_fs_ceph_spark.tables import order_bounded, t

_EN = LANG_STOPWORDS["en"]


@query(
    "text_token_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, n_chars, string_split(text, ' ') AS tok,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS wtok
      FROM documents
    )
    SELECT doc_id, n_chars,
           len(tok) AS n_tokens,
           len(wtok) AS n_words,
           len(list_distinct(tok)) AS n_unique,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(tok, x -> CAST(len(x) AS BIGINT))),
                       (a, b) -> a + b) / len(tok) AS avg_token_len
    FROM toks
    """,
    tags=("text", "tokenize"),
    bench=True,
)
def text_token_stats(spark, sf_dir):
    """Token counting: whitespace tokens, BPE-ish regex word pieces,
    unique-token count, mean token length — the per-document stats a
    training-data pipeline computes on every shard."""
    d = t(spark, sf_dir, "documents")
    # stacked select: tokenize ONCE per document, then derive the stats —
    # CollapseProject keeps the non-cheap split() a single computed column
    return d.select(
        "doc_id",
        "n_chars",
        tokens("text").alias("tok"),
        F.size(word_tokens_regex("text")).alias("n_words"),
    ).select(
        "doc_id",
        "n_chars",
        F.size("tok").alias("n_tokens"),
        "n_words",
        F.size(F.array_distinct("tok")).alias("n_unique"),
        (
            F.aggregate(
                F.transform("tok", lambda x: F.length(x).cast("long")),
                F.lit(0).cast("long"),
                lambda a, b: a + b,
            )
            / F.size("tok")
        ).alias("avg_token_len"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text, length(text) AS nc, string_split(text, ' ') AS tok
      FROM documents
    )
    SELECT doc_id,
           (nc - length(regexp_replace(text, '[a-z]', '', 'g'))) / nc AS alpha_ratio,
           (nc - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) / nc AS punct_ratio,
           len(list_filter(tok, x -> list_contains({list(_EN)!r}, x))) / len(tok)
             AS stopword_ratio,
           CAST(len(tok) BETWEEN 5 AND 200
                AND (nc - length(regexp_replace(text, '[a-z]', '', 'g'))) / nc > 0.5
                AS BOOLEAN) AS passes_quality
    FROM toks
    """,
    tags=("text", "quality"),
)
def text_quality_score(spark, sf_dir):
    """Quality heuristics: alphabetic ratio, punctuation ratio, English
    stopword density, plus the composite keep/drop gate a corpus filter
    applies before training."""
    d = t(spark, sf_dir, "documents")
    nc = F.length("text")
    alpha = (nc - F.length(F.regexp_replace("text", "[a-z]", ""))) / nc
    punct = (nc - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))) / nc
    return d.select(
        "doc_id",
        tokens("text").alias("tok"),
        alpha.alias("alpha_ratio"),
        punct.alias("punct_ratio"),
    ).select(
        "doc_id",
        "alpha_ratio",
        "punct_ratio",
        (F.size(F.filter("tok", lambda x: x.isin(*_EN))) / F.size("tok")).alias(
            "stopword_ratio"
        ),
        (F.size("tok").between(5, 200) & (F.col("alpha_ratio") > 0.5)).alias(
            "passes_quality"
        ),
    )


def _sql_lang_pred() -> tuple[str, str]:
    """Nested-CASE argmax over per-language scores (first max wins,
    language order en→de→es→fr→zh — mirrored exactly in the Spark chain)."""
    langs = list(LANG_STOPWORDS)
    pred, best = f"'{langs[0]}'", f"s_{langs[0]}"
    for lang in langs[1:]:
        pred = f"CASE WHEN s_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"GREATEST({best}, s_{lang})"
    return pred, best


@query(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
             {", ".join(f"{sql_lang_score('list_distinct(string_split(text, chr(32)))', lg)} AS s_{lg}" for lg in LANG_STOPWORDS)}
      FROM documents
    )
    SELECT lang, {_sql_lang_pred()[0]} AS pred_lang, COUNT(*) AS n
    FROM scored
    GROUP BY lang, pred_lang
    """,
    tags=("text", "lang_id"),
)
def text_lang_id(spark, sf_dir):
    """Language-ID via stopword-overlap scoring (n-gram heuristic tier),
    reported as a labeled-vs-predicted confusion matrix."""
    d = t(spark, sf_dir, "documents")
    # staged: materialize the distinct token array, then the 5 per-language
    # scores as columns, THEN the argmax chain — the chain references each
    # score ~3x and each score references the array once per language;
    # inlined, the split+distinct would re-evaluate per reference (the
    # same CollapseProject duplication measured on the shingle operators)
    toked = d.select("lang", F.array_distinct(tokens("text")).alias("tok"))
    scores = lang_scores(F.col("tok"))
    langs = list(scores)
    scored = toked.select(
        "lang", *[scores[lg].alias(f"s_{lg}") for lg in langs]
    )
    pred, best = F.lit(langs[0]), F.col(f"s_{langs[0]}")
    for lang in langs[1:]:
        pred = F.when(F.col(f"s_{lang}") > best, lang).otherwise(pred)
        best = F.greatest(best, F.col(f"s_{lang}"))
    return (
        scored.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {sql_poly_hash("text")} AS fp_raw,
           {sql_poly_hash("array_to_string(list_sort(list_distinct(string_split(text, chr(32)))), chr(32))")}
             AS fp_bag
    FROM documents WHERE doc_id % 4 = 1
    """,
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprinting: rolling polynomial hash of the raw text
    plus an order-insensitive bag-of-words fingerprint (hash of the sorted
    distinct-token string) — the keys exact/near dedup joins on.

    Portable tier shown here (oracle-checkable); production tier swaps
    ``poly_hash`` for ``xxhash64`` with the same pipeline shape."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 1)
    bag = F.array_join(F.array_sort(F.array_distinct(tokens("text"))), " ")
    return d.select(
        "doc_id",
        poly_hash(F.col("text")).alias("fp_raw"),
        poly_hash(bag).alias("fp_bag"),
    )


@query(
    "text_tfidf_terms",
    oracle="""
    WITH tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, chr(32))) AS token
        FROM documents
      ) GROUP BY doc_id, token
    ),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    scored AS (
      SELECT t.doc_id, t.token, t.tf, d.df,
             t.tf * 1000000 // d.df AS score
      FROM tf t JOIN df d ON t.token = d.token
    )
    SELECT doc_id, token, tf, df, score FROM scored
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, token) <= 3
    """,
    tags=("text", "tfidf", "window"),
)
def text_tfidf_terms(spark, sf_dir):
    """Top-3 distinctive terms per document, TF-IDF shape with an exact
    integer score (tf·10⁶ ÷ df, floor) — ln-based idf differs in the last
    ulp across libm implementations, so the declared operator scores in
    exact arithmetic and stays hash-matchable; a production variant is
    free to use log-idf.

    Plan: explode → (doc, token) tf agg → token df agg → join back →
    per-doc ranking window. The df relation is vocabulary-sized (small),
    so the join broadcasts; the only data-sized shuffles are the two
    aggregates."""
    d = t(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        tf.join(df, "token")
        .withColumn("score", F.floor(F.col("tf") * 1_000_000 / F.col("df")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", "df", "score")
    )


@query(
    "text_pii_scrub",
    oracle="""
    SELECT doc_id,
           substr(regexp_replace(regexp_replace(lower(text),
                    '[0-9]+', '<NUM>', 'g'),
                    '[a-z]{9,}', '<LONG>', 'g'), 1, 60) AS masked_prefix,
           length(regexp_replace(regexp_replace(lower(text),
                    '[0-9]+', '<NUM>', 'g'),
                    '[a-z]{9,}', '<LONG>', 'g')) AS masked_len
    FROM documents
    WHERE doc_id % 4 = 0
    ORDER BY doc_id
    """,
    tags=("text", "scrub", "regex"),
)
def text_pii_scrub(spark, sf_dir):
    """Pattern-based content scrubbing — the shape of PII redaction in a
    training-data pipeline (emails/phones/IDs at production; here digit
    runs and over-long tokens so the synthetic corpus exercises both
    rules). Spark's regexp_replace is global by default; DuckDB needs the
    explicit 'g' flag — the patterns themselves are identical in Java
    regex and RE2. Pure map work: scales linearly, no shuffle at all."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    masked = F.regexp_replace(
        F.regexp_replace(F.lower("text"), "[0-9]+", "<NUM>"),
        "[a-z]{9,}",
        "<LONG>",
    )
    return d.select(
        "doc_id",
        F.substring(masked, 1, 60).alias("masked_prefix"),
        F.length(masked).alias("masked_len"),
    ).orderBy("doc_id")


@query(
    "text_split_assign",
    oracle="""
    SELECT lang, split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT lang, n_chars,
             CASE WHEN (doc_id * 2654435761 + 40503) % 100 < 80 THEN 'train'
                  WHEN (doc_id * 2654435761 + 40503) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    GROUP BY lang, split
    ORDER BY lang, split
    """,
    tags=("text", "split", "sampling"),
)
def text_split_assign(spark, sf_dir):
    """Deterministic train/val/test split assignment — hash the stable
    document id through a Knuth multiplicative mix into [0,100) and cut
    at 80/90. The same document lands in the same split on every engine,
    every run, and every re-ingestion ordering — the property random()
    sampling can't give and exactly what an LLM-data pipeline needs for
    leak-free eval sets. Integer arithmetic end-to-end (id ≤ ~1e9 keeps
    the product under 2^62 — no overflow in either engine)."""
    d = t(spark, sf_dir, "documents")
    h = F.pmod(F.col("doc_id") * F.lit(2654435761) + F.lit(40503), F.lit(100))
    split = (
        F.when(h < 80, F.lit("train")).when(h < 90, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        d.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .transform(order_bounded, "lang", "split")
    )


@query(
    "text_hashing_vectorizer",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest({sql_token_hashes("string_split(text, chr(32))")}) AS th
      FROM documents WHERE doc_id % 5 = 0
    )
    SELECT doc_id, CAST(th % 64 AS BIGINT) AS bucket, COUNT(*) AS tf
    FROM toks
    GROUP BY doc_id, bucket
    ORDER BY doc_id, bucket
    """,
    tags=("text", "features", "hashing-trick"),
)
def text_hashing_vectorizer(spark, sf_dir):
    """Hashing-trick feature vectorization: each token maps to one of 64
    buckets via the portable polynomial hash, and per-(doc, bucket) term
    frequencies form the sparse feature vector — the fixed-width,
    vocabulary-free encoder ML pipelines use when a learned vocabulary
    can't be broadcast. Emitted as sparse (doc_id, bucket, tf) rows:
    output is bounded by 64/doc regardless of corpus size, hashing is a
    per-token JVM fold, and the shuffle carries map-combined partial
    counts keyed on (doc_id, bucket)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    th = token_hashes(tokens("text"))
    return (
        d.select("doc_id", F.explode(th).alias("th"))
        .groupBy("doc_id", (F.col("th") % 64).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy("doc_id", "bucket")
    )


_BPE_PAT = "[a-z]+|[0-9]+|[^a-z0-9 ]+"


@query(
    "text_bpe_pretokenize",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '{_BPE_PAT}') AS pieces
      FROM documents WHERE doc_id % 9 = 2
    )
    SELECT doc_id,
           len(pieces) AS n_pieces,
           len(list_filter(pieces, p -> p ~ '^[a-z]+$')) AS n_alpha,
           len(list_filter(pieces, p -> p ~ '^[0-9]+$')) AS n_num,
           len(pieces) - len(list_filter(pieces, p -> p ~ '^[a-z]+$'))
             - len(list_filter(pieces, p -> p ~ '^[0-9]+$')) AS n_other,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(pieces, p -> CAST(len(p) AS BIGINT))),
                (a, b) -> a + b) AS BIGINT) AS total_chars
    FROM toks
    ORDER BY doc_id
    """,
    tags=("text", "tokenize", "bpe"),
)
def text_bpe_pretokenize(spark, sf_dir):
    """BPE-style pre-tokenization: the regex alternation pass every
    BPE/byte-level tokenizer runs BEFORE merges — split text into
    letter runs, digit runs, and punctuation runs (lookahead-free so
    Java regex and RE2 agree), then profile the piece stream (count,
    class mix, char mass). total_chars ÷ n_pieces is the
    chars-per-token ratio used to budget token counts for LLM
    training corpora at scale — a pure map over the scan, no
    shuffle."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 9 == 2)
    pieces = F.regexp_extract_all(F.lower("text"), F.lit(_BPE_PAT), 0)
    piece_lens = F.transform(pieces, lambda p: F.length(p).cast("long"))
    return (
        d.select("doc_id", pieces.alias("pieces"))
        .select(
            "doc_id",
            F.size("pieces").alias("n_pieces"),
            F.size(F.filter("pieces", lambda p: p.rlike("^[a-z]+$"))).alias("n_alpha"),
            F.size(F.filter("pieces", lambda p: p.rlike("^[0-9]+$"))).alias("n_num"),
            (
                F.size("pieces")
                - F.size(F.filter("pieces", lambda p: p.rlike("^[a-z]+$")))
                - F.size(F.filter("pieces", lambda p: p.rlike("^[0-9]+$")))
            ).alias("n_other"),
            F.aggregate(
                F.transform("pieces", lambda p: F.length(p).cast("long")),
                F.lit(0).cast("long"),
                lambda a, b: a + b,
            ).alias("total_chars"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_zipf_profile",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freqs AS (SELECT tok, COUNT(*) AS freq FROM toks WHERE tok <> '' GROUP BY tok),
    tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM freqs),
    ranked AS (
      SELECT tok, freq,
             row_number() OVER (ORDER BY freq DESC, tok) AS rnk
      FROM freqs
    )
    SELECT rnk, tok, CAST(freq AS BIGINT) AS freq,
           ROUND(-ln(CAST(freq AS DOUBLE) / total) / ln(rnk + 1), 9) AS zipf_coeff
    FROM ranked, tot
    WHERE rnk <= 20
    ORDER BY rnk
    """,
    tags=("text", "zipf", "corpus-stats"),
)
def text_zipf_profile(spark, sf_dir):
    """Zipf rank-frequency profile of the corpus: top-20 tokens with
    their rank and the per-rank Zipf coefficient −ln(p)/ln(rank+1)
    (≈ the exponent s if the corpus is Zipfian — flat coefficient
    across ranks = power-law fit). The frequency table is one
    map-combined aggregate over exploded tokens; ranking is a top-k,
    and every float op is a PER-ROW scalar on exact integers (freq,
    rank, total) rounded at 9 digits — no float summation anywhere,
    so cross-engine determinism is structural, not tolerance-based.
    Corpus token distributions drive tokenizer-vocab and dedup-
    threshold decisions in LLM data work."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    freqs = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    tot = freqs.agg(F.sum("freq").cast("long").alias("total"))
    ranked = freqs.select(
        "tok",
        "freq",
        F.row_number().over(Window.orderBy(F.col("freq").desc(), "tok")).alias("rnk"),
    ).filter(F.col("rnk") <= 20)
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "rnk",
            "tok",
            F.col("freq").cast("long").alias("freq"),
            F.round(
                -F.log(F.col("freq").cast("double") / F.col("total"))
                / F.log(F.col("rnk") + 1),
                9,
            ).alias("zipf_coeff"),
        )
        .orderBy("rnk")
    )


_SQL_TOK = "string_split(text, chr(32))"
# winnowing parameters: k-gram size 3 (hashed_shingles), window 4 — the
# MOSS guarantee is that any shared token run of length >= w + k - 1 = 6
# produces at least one shared fingerprint.
_WINNOW_W = 4
_STOP_FP_DOCS = 50  # fingerprints present in more docs are boilerplate


@query(
    "text_winnowing_pairs",
    oracle=f"""
    WITH kg AS (
      SELECT doc_id,
             {sql_hashed_shingles(sql_token_hashes(_SQL_TOK), 3)} AS kg
      FROM documents
    ),
    fp AS (
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(kg) >= {_WINNOW_W}
             THEN list_transform(generate_series(1, len(kg) - {_WINNOW_W - 1}),
                                 i -> list_min(kg[i:i+{_WINNOW_W - 1}]))
             ELSE kg END)) AS fp
      FROM kg
    ),
    rare AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= {_STOP_FP_DOCS}),
    kept AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare r ON f.fp = r.fp)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
    HAVING COUNT(*) >= 3
    """,
    tags=("text", "fingerprint", "winnowing", "dedup"),
    bench=True,
)
def text_winnowing_pairs(spark, sf_dir):
    """Winnowing document fingerprints (the MOSS algorithm: Schleimer,
    Wilkerson & Aiken, SIGMOD'03) driving near-dup candidate pairs: hash
    every 3-token k-gram, slide a window of 4 k-gram hashes, keep the
    minimum per window — any shared token run of length >= w+k-1 = 6 is
    GUARANTEED to share a fingerprint, which positional MinHash sampling
    cannot promise. Pairs sharing >= 3 rare fingerprints are emitted with
    their overlap count.

    Scale shape: fingerprinting is map-only per document (array ops in
    whole-stage codegen, ~2/w of k-grams survive); the candidate join is
    an equality join on the 8-byte fingerprint, with boilerplate
    fingerprints (> 50 docs) dropped first so no bucket degenerates —
    the same bounded-bucket posture as the LSH band join. At 100 TB the
    (doc_id, fp) relation is the only shuffle and is ~K slim rows per
    document."""
    d = t(spark, sf_dir, "documents")
    # staged projection: materialize the token-hash array BEFORE the k-gram
    # combine references it (size + per-gram element_at) — inlined, each
    # reference re-evaluates the whole tokenize+hash pipeline (~80x cold
    # cost, measured); as a multi-use alias Catalyst keeps it a column
    kg = d.select("doc_id", token_hashes(tokens("text")).alias("th")).select(
        "doc_id", hashed_shingles(F.col("th"), 3).alias("kg")
    )
    # persisted: referenced by the stop-fingerprint filter AND both sides
    # of the candidate self-join — without it the tokenize+hash+winnow map
    # stage recomputes per reference (the "fingerprints table" of a
    # production run, same posture as the persisted MinHash signatures)
    fps = kg.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(
                    F.size("kg") >= _WINNOW_W,
                    F.transform(
                        F.sequence(F.lit(1), F.size("kg") - (_WINNOW_W - 1)),
                        lambda i: F.array_min(F.slice(F.col("kg"), i, _WINNOW_W)),
                    ),
                ).otherwise(F.col("kg"))
            )
        ).alias("fp"),
    ).persist()
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") <= _STOP_FP_DOCS)
        .select("fp")
    )
    kept = fps.join(rare, "fp")
    a = kept.select(F.col("doc_id").alias("doc_a"), "fp")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= 3)
    )


@query(
    "text_decontaminate",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id,
             unnest(list_distinct({sql_hashed_shingles(sql_token_hashes(_SQL_TOK), 5)})) AS g
      FROM documents
    ),
    ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
    tr AS (SELECT * FROM grams WHERE doc_id % 97 <> 0),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
            FROM tr GROUP BY doc_id),
    hits AS (SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
             FROM tr JOIN ev ON tr.g = ev.g GROUP BY tr.doc_id)
    SELECT t.doc_id, t.n_grams, h.n_hits,
           ROUND(CAST(h.n_hits AS DOUBLE) / t.n_grams, 9) AS contamination,
           (h.n_hits >= 8 OR CAST(h.n_hits AS DOUBLE) / t.n_grams > 0.1)
             AS drop_doc
    FROM tot t JOIN hits h ON t.doc_id = h.doc_id
    WHERE h.n_hits >= 1
    """,
    tags=("text", "decontamination", "ngram", "llm-pipeline"),
    bench=True,
)
def text_decontaminate(spark, sf_dir):
    """Train/eval decontamination — the benchmark-overlap scrub every LLM
    training corpus needs: any training document sharing 5-token n-grams
    with the held-out evaluation set (stand-in: doc_id % 97 == 0) is
    scored by overlap count and contamination ratio, with the standard
    drop rule (>= 8 shared n-grams OR > 10% of the document's n-grams).

    Scale shape: n-grams are hashed per document map-side (3 integer ops
    per gram over token hashes — the text never re-tokenizes), the join
    key is an 8-byte gram hash, and the eval side is deduplicated before
    the join. In a real deployment the eval suite is BOUNDED (benchmarks
    don't grow with the corpus), so its distinct-gram set broadcasts and
    the training corpus never shuffles — here the stand-in eval split is
    SF-scaled, so no hint is forced and AQE picks the strategy. Division
    operands are exact integers, so the rounded ratio is bit-identical
    cross-engine."""
    d = t(spark, sf_dir, "documents")
    # persisted at ARRAY grain (round-12, guide §2.3/§2.4): the distinct
    # gram ARRAY per document feeds the eval-set distinct, the train-side
    # join, AND the per-doc total — one tokenize+hash pass, and n_grams
    # is the map-side array size, so the former per-doc COUNT over the
    # exploded gram stream (a full |grams|-row exchange) is gone. The
    # cached relation is also smaller than the exploded form it replaces.
    garr = (
        d.select("doc_id", token_hashes(tokens("text")).alias("th"))
        .select(
            "doc_id",
            F.array_distinct(hashed_shingles(F.col("th"), 5)).alias("ga"),
        )
        .persist()
    )
    eval_g = (
        garr.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode("ga").alias("g"))
        .distinct()
    )
    train_arr = garr.filter(F.col("doc_id") % 97 != 0)
    tot = train_arr.select("doc_id", F.size("ga").alias("n_grams"))
    train = train_arr.select("doc_id", F.explode("ga").alias("g"))
    hits = train.join(eval_g, "g").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        tot.join(hits, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_grams"), 9).alias("contamination"),
            (
                (F.col("n_hits") >= 8)
                | (F.col("n_hits") / F.col("n_grams") > 0.1)
            ).alias("drop_doc"),
        )
        .filter(F.col("n_hits") >= 1)
    )


@query(
    "text_repetition_filter",
    oracle="""
    WITH paras AS (
      SELECT doc_id, n_chars, string_split(text, '. ') AS p FROM documents
    )
    SELECT doc_id,
           len(p) AS n_paras,
           CAST(len(p) - len(list_distinct(p)) AS BIGINT) AS n_dup_paras,
           ROUND(CAST(len(p) - len(list_distinct(p)) AS DOUBLE) / len(p), 9)
             AS dup_para_fraction,
           (CAST(len(p) - len(list_distinct(p)) AS DOUBLE) / len(p) > 0.3)
             AS drop_doc
    FROM paras
    WHERE len(p) - len(list_distinct(p)) >= 1
    """,
    tags=("text", "quality", "repetition", "llm-pipeline"),
)
def text_repetition_filter(spark, sf_dir):
    """Within-document repetition filter (the Gopher/MassiveText quality
    rule): split each document into sentence-paragraph units, measure the
    fraction that are exact repeats of an earlier unit, drop documents
    whose repeated fraction exceeds 30% — boilerplate-heavy and
    template-generated pages fail exactly this gate.

    Scale shape: pure map-side array work per document (split, distinct,
    two subtractions) inside whole-stage codegen; only documents with at
    least one repeated unit are emitted. The fraction divides two exact
    integers, so the rounded double is bit-identical cross-engine."""
    d = t(spark, sf_dir, "documents")
    p = F.split("text", "\\. ")
    return (
        d.select(
            "doc_id",
            F.size(p).alias("n_paras"),
            (F.size(p) - F.size(F.array_distinct(p))).cast("long").alias("n_dup_paras"),
        )
        .select(
            "doc_id",
            "n_paras",
            "n_dup_paras",
            F.round(F.col("n_dup_paras") / F.col("n_paras"), 9).alias(
                "dup_para_fraction"
            ),
            (F.col("n_dup_paras") / F.col("n_paras") > 0.3).alias("drop_doc"),
        )
        .filter(F.col("n_dup_paras") >= 1)
    )


# RAG chunking geometry: 32-token windows, stride 16 (50% overlap)
_CHUNK_LEN = 32
_CHUNK_STRIDE = 16
_CHUNK_MOD = 1_000_000_007


@query(
    "text_chunk_windows",
    oracle=f"""
    WITH th AS (
      SELECT doc_id, {sql_token_hashes(_SQL_TOK)} AS th FROM documents
      WHERE doc_id % 5 = 2
    ),
    chunks AS (
      SELECT doc_id,
             unnest(generate_series(1,
                      greatest(len(th) - {_CHUNK_STRIDE}, 1),
                      {_CHUNK_STRIDE})) AS chunk_start,
             th
      FROM th
    )
    SELECT doc_id,
           CAST((chunk_start - 1) // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           CAST(len(th[chunk_start:chunk_start + {_CHUNK_LEN - 1}]) AS BIGINT)
             AS n_tokens,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
                          th[chunk_start:chunk_start + {_CHUNK_LEN - 1}]),
             (a, b) -> (a * 131 + b) % {_CHUNK_MOD}) AS chunk_hash
    FROM chunks
    """,
    tags=("text", "chunking", "rag", "llm-pipeline"),
)
def text_chunk_windows(spark, sf_dir):
    """RAG/embedding chunking: every document split into 32-token windows
    with stride 16 (50% overlap so no answer span straddles a boundary
    unseen), each chunk identified by (doc_id, chunk_idx) and
    content-addressed by an order-sensitive fold hash over its token
    hashes — the id scheme that lets a re-crawl re-embed ONLY changed
    chunks (hash-unchanged chunks skip the embedding model, the expensive
    stage of a RAG ingest).

    Scale shape: pure map-side per-document work — tokenize once, hash
    per token once, then each window is a slice+fold over the hash array
    (no per-window re-tokenization); explode emits ~n/stride slim chunk
    rows and nothing shuffles until a downstream consumer groups them.
    The modulo filter bounds test output; production chunks every doc."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 2)
    th = d.select("doc_id", token_hashes(tokens("text")).alias("th"))
    # upper bound n - stride (not n - len + 1): the largest start
    # 1 + k*stride above n - 2*stride guarantees the tail chunk reaches
    # the final token (complete tiling) and carries > stride tokens —
    # bound n - len + 1 would DROP up to stride-1 trailing tokens
    # whenever (n - len) is not a stride multiple
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("th") - _CHUNK_STRIDE, F.lit(1)),
        F.lit(_CHUNK_STRIDE),
    )
    chunk = F.slice(F.col("th"), F.col("chunk_start"), _CHUNK_LEN)
    return (
        th.select("doc_id", "th", F.explode(starts).alias("chunk_start"))
        .select(
            "doc_id",
            ((F.col("chunk_start") - 1) / _CHUNK_STRIDE)
            .cast("long")
            .alias("chunk_idx"),
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.size(chunk).cast("long").alias("n_tokens"),
            F.aggregate(
                chunk,
                F.lit(0).cast("long"),
                lambda a, b: (a * 131 + b) % F.lit(_CHUNK_MOD),
            ).alias("chunk_hash"),
        )
    )


_PACK_LEN = 256  # tokens per packed training row


@query(
    "text_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, len(string_split(text, chr(32))) AS n_tokens
      FROM documents
    ),
    offs AS (
      SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM toks
    )
    SELECT doc_id, source, n_tokens, cum_before,
           cum_before // {_PACK_LEN} AS start_row,
           (cum_before + n_tokens - 1) // {_PACK_LEN} AS end_row,
           ((cum_before + n_tokens - 1) // {_PACK_LEN})
             > (cum_before // {_PACK_LEN}) AS spans_boundary
    FROM offs
    """,
    tags=("text", "packing", "llm-pipeline"),
)
def text_pack_sequences(spark, sf_dir):
    """Sequence packing index — the concat-and-chunk assembly step that
    turns tokenized documents into fixed-length training rows (256
    tokens here): a per-shard prefix sum of token counts gives each
    document its byte-exact offset, from which its first/last training
    row and whether it straddles a row boundary follow by integer
    division. Downstream, the actual token assembly is a per-row gather
    keyed by start_row/end_row; this query computes the index that
    makes that gather embarrassingly parallel.

    Scale shape: packing is per-shard (window PARTITIONED by source —
    the crawl shard), never a global prefix sum: each shard's running
    sum is an independent window over its own doc_id order, which is
    how production packers parallelize. One shuffle on the shard key;
    everything after is map-side integer arithmetic."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = toks.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    return offs.select(
        "doc_id",
        "source",
        "n_tokens",
        "cum_before",
        F.expr(f"cum_before div {_PACK_LEN}").alias("start_row"),
        F.expr(f"(cum_before + n_tokens - 1) div {_PACK_LEN}").alias("end_row"),
        (
            F.expr(f"(cum_before + n_tokens - 1) div {_PACK_LEN}")
            > F.expr(f"cum_before div {_PACK_LEN}")
        ).alias("spans_boundary"),
    )


@query(
    "text_substring_dedup",
    oracle=f"""
    WITH th AS (
      SELECT doc_id, {sql_token_hashes("string_split(text, chr(32))")} AS th
      FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest({sql_hashed_shingles("th", 8)}) AS g FROM th
    ),
    freq AS (
      SELECT g, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY g
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
           SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*) AS dup_fraction,
           (SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)) > 0.3
             AS drop_doc
    FROM grams JOIN freq USING (g)
    GROUP BY doc_id
    """,
    tags=("text", "dedup", "substring", "span"),
)
def text_substring_dedup(spark, sf_dir):
    """Exact duplicated-SUBSTRING detection at 8-token granularity — the
    span-level complement of document-level fuzzy dedup (Lee et al.'s
    "Deduplicating Training Data Makes Language Models Better" shape,
    re-expressed relationally): a doc's 8-gram is a *duplicated span* if
    the identical token run appears in ≥2 distinct documents; each doc
    reports its gram count, duplicated-gram count, duplicated fraction,
    and the >30% drop verdict. Catches boilerplate/licence blocks and
    cross-doc copy-paste that whole-doc MinHash misses when the rest of
    the document differs.

    Scale shape: gram stream is map-side (token hashes → rolling 8-gram
    combine, 3 int ops per gram — no re-hashing of the span text);
    cross-doc frequency is ONE shuffle on the gram hash with a
    partial-merge distinct-doc count; the verdict join is gram-hash
    equality (never all-pairs) and the per-doc rollup reuses the doc_id
    partitioning. The gram relation is persisted because frequency and
    rollup both consume it. At 100 TB the same plan runs with xxhash64
    grams (8-byte keys) and a min-doc-frequency bloom prefilter before
    the join; suffix-automaton exactness is deliberately traded for the
    fixed-k relational form."""
    d = t(spark, sf_dir, "documents")
    grams = (
        d.select("doc_id", token_hashes(tokens("text")).alias("th"))
        .select("doc_id", F.explode(hashed_shingles(F.col("th"), 8)).alias("g"))
        .persist()
    )
    freq = grams.groupBy("g").agg(F.countDistinct("doc_id").alias("nd"))
    dup_frac = F.col("n_dup_grams") / F.col("n_grams")
    return (
        grams.join(freq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).cast("long").alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            dup_frac.alias("dup_fraction"),
            (dup_frac > 0.3).alias("drop_doc"),
        )
    )


@query(
    "text_unigram_logprob",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({sql_token_hashes("string_split(text, chr(32))")}) AS h
      FROM documents
    ),
    freq AS (SELECT h, COUNT(*) AS c FROM tok GROUP BY h),
    tot AS (SELECT COUNT(*)::DOUBLE AS n FROM tok)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(-ln(c / n)), 8) AS avg_nll
    FROM tok JOIN freq USING (h) CROSS JOIN tot
    GROUP BY doc_id
    """,
    tags=("text", "quality", "language-model", "perplexity"),
)
def text_unigram_logprob(spark, sf_dir):
    """Unigram log-probability quality score — the statistical-LM proxy
    of the CCNet/Gopher filtering stack (the lightweight stand-in for a
    perplexity filter): each document's mean negative log-probability
    under the corpus's own unigram distribution. Gibberish and
    rare-token soup score high (improbable), templated boilerplate
    scores low; rank-and-threshold replaces the fixed gate because the
    scale is corpus-relative.

    Scale shape: token stream is map-side hashing; the unigram table is
    ONE shuffle with partial-merge counts; the corpus total is a one-row
    aggregate (broadcast); scoring is a token-hash equality join back to
    the frequency table (8-byte keys, never text), then a per-doc
    rollup. Rounded to 8 dp so the cross-engine hash is insensitive to
    last-ulp libm differences in ln()."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(token_hashes(tokens("text"))).alias("h")).persist()
    freq = tok.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        tok.join(freq, "h")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("c") / F.col("n"))), 8).alias("avg_nll"),
        )
    )


@query(
    "text_gopher_rules",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x != '') AS w
      FROM documents
    ),
    stats AS (
      SELECT doc_id,
             len(w) AS n_words,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(w, x -> CAST(len(x) AS BIGINT))),
                         (a, b) -> a + b) / len(w) AS mean_word_len,
             len(list_distinct(w)) / len(w) AS frac_unique,
             list_max(list_transform(list_distinct(w),
                      u -> len(list_filter(w, x -> x = u)))) / len(w)
               AS top_word_frac,
             len(list_filter(w, x -> list_contains({list(_EN)!r}, x)))
               AS stopword_count
      FROM toks
    )
    SELECT doc_id, n_words, mean_word_len, frac_unique, top_word_frac,
           stopword_count,
           CAST(n_words BETWEEN 8 AND 5000 AS BOOLEAN) AS r_word_count,
           CAST(mean_word_len BETWEEN 2 AND 12 AS BOOLEAN) AS r_mean_len,
           CAST(frac_unique >= 0.3 AS BOOLEAN) AS r_unique,
           CAST(top_word_frac <= 0.2 AS BOOLEAN) AS r_top_word,
           CAST(stopword_count >= 2 AS BOOLEAN) AS r_stopwords,
           CAST(n_words BETWEEN 8 AND 5000 AND mean_word_len BETWEEN 2 AND 12
                AND frac_unique >= 0.3 AND top_word_frac <= 0.2
                AND stopword_count >= 2 AS BOOLEAN) AS keep_doc
    FROM stats
    """,
    tags=("text", "quality", "gopher"),
)
def text_gopher_rules(spark, sf_dir):
    """Gopher/MassiveText-style quality-rule battery: the per-document
    word statistics (word count, mean word length, unique-word fraction,
    single-word dominance, stopword presence) plus one boolean column
    per rule and the conjunctive keep/drop verdict — the shape a corpus
    filter materializes so downstream audits can ask *which* rule
    rejected a document, not just that one did.

    Scale shape: pure map-side array work per document inside
    whole-stage codegen — no shuffle at all. ``top_word_frac`` uses the
    row-local O(n_distinct x n_words) filter-count fold, fine for
    document-length token arrays; a corpus whose documents run to
    hundreds of KB would swap that one statistic to the explode +
    groupBy(doc_id, word) formulation (one extra shuffle) with the rest
    of the battery unchanged. Every ratio divides two exact integers,
    so doubles are bit-identical cross-engine.

    The regex token array is bound ONCE per document as a lambda
    variable: inlined, the token expression sat inside the
    per-distinct-word dominance lambda, so the document was
    RE-TOKENIZED once per distinct word (no common-subexpression
    elimination inside higher-order lambdas; measured 1.90 -> 0.47 s
    at sf0.1, identical output)."""
    d = t(spark, sf_dir, "documents")
    w = word_tokens_regex("text")
    st = F.transform(
        F.array(w),
        lambda wb: F.struct(
            F.size(wb).alias("n_words"),
            (
                F.aggregate(
                    F.transform(wb, lambda x: F.length(x).cast("long")),
                    F.lit(0).cast("long"),
                    lambda a, b: a + b,
                )
                / F.size(wb)
            ).alias("mean_word_len"),
            (F.size(F.array_distinct(wb)) / F.size(wb)).alias("frac_unique"),
            (
                F.array_max(
                    F.transform(
                        F.array_distinct(wb),
                        lambda u: F.size(F.filter(wb, lambda x: x == u)),
                    )
                )
                / F.size(wb)
            ).alias("top_word_frac"),
            F.size(F.filter(wb, lambda x: x.isin(*_EN)))
            .cast("long")
            .alias("stopword_count"),
        ),
    )[0]
    stats = d.select("doc_id", st.alias("s")).select(
        "doc_id",
        "s.n_words",
        "s.mean_word_len",
        "s.frac_unique",
        "s.top_word_frac",
        "s.stopword_count",
    )
    rules = {
        "r_word_count": F.col("n_words").between(8, 5000),
        "r_mean_len": F.col("mean_word_len").between(2, 12),
        "r_unique": F.col("frac_unique") >= 0.3,
        "r_top_word": F.col("top_word_frac") <= 0.2,
        "r_stopwords": F.col("stopword_count") >= 2,
    }
    keep = rules["r_word_count"]
    for name in list(rules)[1:]:
        keep = keep & rules[name]
    return stats.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "frac_unique",
        "top_word_frac",
        "stopword_count",
        *[c.alias(name) for name, c in rules.items()],
        keep.alias("keep_doc"),
    )


@query(
    "text_bigram_entropy",
    oracle=f"""
    WITH th AS (
      SELECT {sql_token_hashes("string_split(text, ' ')")} AS h FROM documents
    ),
    bi AS (
      SELECT unnest(list_transform(range(1, len(h)),
                    i -> {{'cur': h[i], 'nxt': h[i + 1]}})) AS g
      FROM th
    ),
    cnt AS (
      SELECT g.cur AS cur, g.nxt AS nxt, COUNT(*) AS c FROM bi GROUP BY 1, 2
    ),
    tot AS (SELECT cur, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY cur),
    agg AS (
      SELECT c.cur, t.n, COUNT(*) AS n_next,
             ROUND(SUM(-(c.c / t.n) * LN(c.c / t.n)), 8) AS cond_entropy
      FROM cnt c JOIN tot t USING (cur) GROUP BY c.cur, t.n
    )
    SELECT cur, n, n_next, cond_entropy FROM agg
    ORDER BY n DESC, cur LIMIT 20
    """,
    tags=("text", "ngram", "entropy", "language-model"),
)
def text_bigram_entropy(spark, sf_dir):
    """Per-context bigram conditional entropy H(next | cur) for the 20
    most frequent context tokens — the predictability profile of the
    corpus's token stream (low-entropy contexts are templated
    boilerplate; uniformly high entropy flags shuffled/gibberish text).
    This is the bigram-LM sibling of `text_unigram_logprob`, and feeds
    the same rank-and-threshold quality gates.

    Scale shape: token hashing is map-side; the ONLY shuffle carries
    partial-merged ((cur, next), count) pairs — 8-byte keys, never
    text; the per-context entropy folds the distinct-next rows of one
    hash partition. Probabilities divide exact integers; the log terms
    round at 1e-8 AFTER the per-context sum (same posture as
    `text_unigram_logprob` — collapses last-ulp libm and
    summation-order differences). Top-20 is TakeOrderedAndProject."""
    d = t(spark, sf_dir, "documents")
    th = d.select(token_hashes(tokens("text")).alias("h"))
    bi = th.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("h") - 1),
                lambda i: F.struct(
                    F.element_at("h", i).alias("cur"),
                    F.element_at("h", i + 1).alias("nxt"),
                ),
            )
        ).alias("g")
    ).select("g.cur", "g.nxt")
    cnt = bi.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("cur").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    agg = (
        cnt.join(tot, "cur")
        .groupBy("cur", "n")
        .agg(
            F.count(F.lit(1)).alias("n_next"),
            F.round(F.sum(-p * F.log(p)), 8).alias("cond_entropy"),
        )
        .select("cur", "n", "n_next", "cond_entropy")
    )
    return agg.orderBy(F.col("n").desc(), "cur").limit(20)


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id,
             unnest(list_distinct({sql_hashed_shingles(sql_token_hashes(_SQL_TOK), 5)})) AS g
      FROM documents
    ),
    first_seen AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g),
    scored AS (
      SELECT gr.doc_id,
             COUNT(*) AS n_grams,
             CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM grams gr JOIN first_seen f ON f.g = gr.g
      GROUP BY gr.doc_id
    )
    SELECT doc_id, n_grams, n_novel, n_novel / n_grams AS novelty
    FROM scored
    """,
    tags=("text", "novelty", "ngram", "curation"),
    bench=True,
)
def text_ngram_novelty(spark, sf_dir):
    """Corpus novelty curve: for each document (in doc_id ingest order),
    the fraction of its distinct 5-gram hashes appearing for the FIRST
    time in the corpus — the marginal-information measure that tells a
    curation pipeline when additional data stops adding content (novelty
    → 0 means you are re-crawling what you already have) and which
    sources still contribute. The same first-occurrence join is the
    dedup-aware token-count a training-budget estimate needs.

    Scale shape: gram hashing is map-side (8-byte keys, never text); the
    ONLY wide operations are one partial-merged MIN per gram hash and
    one gram→first-doc equality join back; per-doc rollups are exact
    integers, so the novelty ratios are bit-identical cross-engine."""
    d = t(spark, sf_dir, "documents")
    grams = (
        d.select("doc_id", token_hashes(tokens("text")).alias("th"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(hashed_shingles(F.col("th"), 5))).alias("g"),
        )
        .persist()
    )
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)).alias(
                "n_novel"
            ),
        )
        .select("doc_id", "n_grams", "n_novel", (F.col("n_novel") / F.col("n_grams")).alias("novelty"))
    )


_FH_DIM = 64


@query(
    "text_feature_hash_embed",
    oracle=f"""
    WITH th AS (
      SELECT doc_id, unnest({sql_token_hashes(_SQL_TOK)}) AS h
      FROM documents
    ),
    cells AS (
      SELECT doc_id, h % {_FH_DIM} AS dim,
             CAST(SUM(CASE WHEN (h // {_FH_DIM}) % 2 = 0 THEN 1 ELSE -1 END)
                  AS BIGINT) AS w
      FROM th GROUP BY doc_id, dim
    ),
    spine AS (
      SELECT d.doc_id, g.dim
      FROM (SELECT DISTINCT doc_id FROM cells) d,
           (SELECT unnest(generate_series(0, {_FH_DIM - 1})) AS dim) g
    ),
    dense AS (
      SELECT s.doc_id, s.dim, COALESCE(CAST(c.w AS DOUBLE), 0.0) AS w
      FROM spine s LEFT JOIN cells c USING (doc_id, dim)
    ),
    vec AS (
      SELECT doc_id, list(w ORDER BY dim) AS raw FROM dense GROUP BY doc_id
    )
    SELECT doc_id,
           list_transform(raw, x -> ROUND(x / SQRT(
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(raw, y -> y * y)), (a, b) -> a + b)), 6)) AS embedding
    FROM vec
    """,
    tags=("text", "embedding", "feature-hashing", "vectorize"),
)
def text_feature_hash_embed(spark, sf_dir):
    """Model-free document embeddings via the feature-hashing trick:
    every token hash lands in one of 64 dimensions (h mod d) with a
    deterministic ±1 sign (next hash bit), signed counts accumulate per
    (doc, dim), and the vector is L2-normalized — the classic
    hashing-vectorizer embedding that gives any text corpus a real
    `array<double>` embedding column (cosine-comparable, ANN-indexable
    by every similarity operator in this engine) with NO model and NO
    vocabulary state. This is the bridge between the text and
    similarity families: its output schema is the `embeddings` table's.

    Scale shape: token hashing is map-side; ONE shuffle carries
    partial-merged (doc, dim, signed-count) cells — at most 64 per doc
    regardless of length; the dense vector reassembles per doc from its
    own cells. Counts are exact ints; the norm is a sequential fold of
    identically-built doubles, rounded at 1e-6."""
    d = t(spark, sf_dir, "documents")
    th = d.select("doc_id", F.explode(token_hashes(tokens("text"))).alias("h"))
    cells = (
        th.select(
            "doc_id",
            (F.col("h") % _FH_DIM).alias("dim"),
            F.when((F.col("h") / _FH_DIM).cast("long") % 2 == 0, 1)
            .otherwise(-1)
            .alias("s"),
        )
        .groupBy("doc_id", "dim")
        .agg(F.sum("s").alias("w"))
    )
    # The (dim -> w) map is bound ONCE per doc as a lambda variable —
    # inlined, every one of the 64 dense-slot probes re-built the map
    # from the two collect_list arrays (no common-subexpression
    # elimination inside higher-order lambdas; measured 3.2 -> 2.7 s at
    # sf0.1, identical output).
    dense = cells.groupBy("doc_id").agg(
        F.transform(
            F.array(
                F.map_from_arrays(
                    F.collect_list("dim"), F.collect_list(F.col("w").cast("double"))
                )
            ),
            lambda m: F.transform(
                F.sequence(F.lit(0), F.lit(_FH_DIM - 1)),
                lambda dd: F.coalesce(F.element_at(m, dd), F.lit(0.0)),
            ),
        )[0].alias("raw")
    )
    norm_sq = F.aggregate(
        F.transform("raw", lambda y: y * y), F.lit(0.0), lambda a, b: a + b
    )
    return dense.select(
        "doc_id",
        F.transform("raw", lambda x: F.round(x / F.sqrt(norm_sq), 6)).alias("embedding"),
    )


# BM25 constants (Robertson k1/b defaults) and the fixed demo query —
# three terms present in the corpus vocabulary at every SF. Inlined
# numeric literals (2.2 = k1+1, 0.25 = 1-b, 0.75 = b) are written
# IDENTICALLY in both engines so every IEEE operation matches.
_BM25_TERMS = ("data", "query", "spark")
_BM25_SQL_TERMS = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@query(
    "text_bm25_rank",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, chr(32))) AS token FROM documents
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_toks
      FROM dl
    ),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE token IN ({_BM25_SQL_TERMS}) GROUP BY doc_id, token
    ),
    df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
    per AS (
      SELECT t.doc_id, t.token,
             ln(1.0 + (CAST(s.n_docs - d.df AS DOUBLE) + 0.5)
                      / (CAST(d.df AS DOUBLE) + 0.5))
             * (CAST(t.tf AS DOUBLE) * 2.2)
             / (CAST(t.tf AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE)
                         / (CAST(s.total_toks AS DOUBLE)
                            / CAST(s.n_docs AS DOUBLE)))) AS contrib
      FROM tf t JOIN df d USING (token) JOIN dl l USING (doc_id), stats s
    ),
    sc AS (
      SELECT doc_id,
             CAST(len(list(contrib ORDER BY token)) AS INTEGER) AS n_terms,
             ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list(contrib ORDER BY token)), (a, b) -> a + b), 9) AS bm25
      FROM per GROUP BY doc_id
    )
    SELECT doc_id, n_terms, bm25 FROM sc
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
    tags=("text", "bm25", "retrieval", "ranking"),
)
def text_bm25_rank(spark, sf_dir):
    """BM25 document ranking for a fixed 3-term query — the lexical
    scorer behind virtually every first-stage retrieval system (and the
    standard hybrid partner of the embedding rankers in
    ``sim_two_stage_retrieval``): idf(t)·tf·(k1+1) / (tf + k1·(1−b +
    b·dl/avgdl)) with k1=1.2, b=0.75, idf = ln(1 + (N−df+0.5)/(df+0.5)).

    Determinism: tf/df/dl/N are exact integers; every scalar double op
    is written in the identical order in both engines, and the per-doc
    score is a SEQUENTIAL fold over term contributions in token order
    (collect → sort → fold, never a float groupBy-sum whose partial
    order differs across engines) — bit-identical before the single
    round(9).

    Scale shape: the corpus-sized work is two map-combined aggregates
    (per-doc length, per-(doc,term) tf with the term filter pushed to
    the scan side of the explode); df is |query| rows and broadcasts;
    stats is one row; the final top-20 is TakeOrderedAndProject. No
    window, no global sort, nothing driver-side."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_toks")
    )
    tf = (
        toks.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    tfd, dfd, dld = (
        F.col("tf").cast("double"),
        F.col("df").cast("double"),
        F.col("dl").cast("double"),
    )
    avgdl = F.col("total_toks").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
        / (dfd + F.lit(0.5))
    )
    contrib = (
        idf
        * (tfd * F.lit(2.2))
        / (tfd + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * dld / avgdl))
    )
    per = (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "token", contrib.alias("contrib"))
    )
    sc = per.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("token", "contrib"))).alias("cs")
    )
    return (
        sc.select(
            "doc_id",
            F.size("cs").cast("int").alias("n_terms"),
            F.round(
                F.aggregate("cs", F.lit(0.0), lambda a, x: a + x["contrib"]), 9
            ).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


_PARA_W = 10  # tokens per pseudo-paragraph block


@query(
    "text_paragraph_dedup",
    oracle=f"""
    WITH b0 AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(list_slice(string_split(text, ' '),
               (i - 1) * {_PARA_W} + 1, i * {_PARA_W}), ' ') AS block
      FROM documents,
      UNNEST(generate_series(1,
        (len(string_split(documents.text, ' ')) - 1) // {_PARA_W} + 1)) AS u(i)
    ),
    freq AS (
      SELECT block, COUNT(DISTINCT doc_id) AS n_docs
      FROM b0 GROUP BY block
    ),
    j AS (
      SELECT b.doc_id, b.pos, b.block, f.n_docs >= 2 AS bp
      FROM b0 b JOIN freq f USING (block)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(COUNT(*) FILTER (WHERE bp) AS BIGINT) AS n_dropped,
           COALESCE(array_to_string(
             list(block ORDER BY pos) FILTER (WHERE NOT bp), ' '), '')
             AS retained_text
    FROM j GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "dedup", "paragraph", "pipeline"),
)
def text_paragraph_dedup(spark, sf_dir):
    """Corpus-level repeated-PARAGRAPH removal — the C4/RefinedWeb line
    dedup: any block appearing in ≥2 DISTINCT documents is boilerplate
    (headers, footers, license blobs — the single highest-volume dup
    class in web corpora) and is struck from every document, and each
    document is re-emitted as its retained blocks in original order.
    The fixture corpus is single-line, so paragraphs are fixed
    {_PARA_W}-token windows — production splits on blank lines and the
    pipeline after the split is IDENTICAL.

    Scale shape: block extraction is map-side (one split + slice per
    block); the frequency pass is one COUNT(DISTINCT doc) shuffle
    keyed by block (production keys the 8-byte xxhash64 of the block
    so text never shuffles twice); the verdict rides back on one
    equality join; reconstruction is a per-document ordered
    collect_list, bounded by document length — never corpus-sized.
    Order-preserving reconstruction means the output is a direct
    drop-in rewrite of the text column."""
    d = t(spark, sf_dir, "documents")
    blocks = (
        d.select("doc_id", tokens("text").alias("tok"))
        .select(
            "doc_id",
            F.expr(
                f"transform(sequence(0, CAST((size(tok) - 1) div {_PARA_W} AS INT)),"
                f" i -> array_join(slice(tok, i * {_PARA_W} + 1, {_PARA_W}), ' '))"
            ).alias("blocks"),
        )
        .select("doc_id", F.posexplode("blocks").alias("pos", "block"))
    )
    freq = blocks.groupBy("block").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    j = blocks.join(freq, "block").select(
        "doc_id", "pos", "block", (F.col("n_docs") >= 2).alias("bp")
    )
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.col("bp").cast("long")).alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(~F.col("bp"), F.struct("pos", "block"))
                        )
                    ),
                    lambda x: x["block"],
                ),
                " ",
            ).alias("retained_text"),
        )
        .orderBy("doc_id")
    )


_RRF_C = 60  # the standard RRF dampening constant
_RRF_TOPK = 20  # per-retriever short-list length


@query(
    "sim_hybrid_rrf",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, chr(32))) AS token FROM documents
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_toks
      FROM dl
    ),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE token IN ({_BM25_SQL_TERMS}) GROUP BY doc_id, token
    ),
    df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
    per AS (
      SELECT t.doc_id, t.token,
             ln(1.0 + (CAST(s.n_docs - d.df AS DOUBLE) + 0.5)
                      / (CAST(d.df AS DOUBLE) + 0.5))
             * (CAST(t.tf AS DOUBLE) * 2.2)
             / (CAST(t.tf AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE)
                         / (CAST(s.total_toks AS DOUBLE)
                            / CAST(s.n_docs AS DOUBLE)))) AS contrib
      FROM tf t JOIN df d USING (token) JOIN dl l USING (doc_id), stats s
    ),
    sc AS (
      SELECT doc_id,
             ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list(contrib ORDER BY token)), (a, b) -> a + b), 9) AS bm25
      FROM per GROUP BY doc_id
    ),
    lexl AS (SELECT doc_id, bm25 FROM sc ORDER BY bm25 DESC, doc_id LIMIT {_RRF_TOPK}),
    lex AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER)
               AS lex_rank
      FROM lexl
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cosd AS (
      SELECT e.vec_id AS doc_id, {sql_cosine("e.embedding", "q.qv")} AS cos
      FROM embeddings e, q
    ),
    seml AS (SELECT doc_id, cos FROM cosd ORDER BY cos DESC, doc_id LIMIT {_RRF_TOPK}),
    sem AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INTEGER)
               AS sem_rank
      FROM seml
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank,
             COALESCE(1.0 / ({_RRF_C} + l.lex_rank), 0.0)
               + COALESCE(1.0 / ({_RRF_C} + s.sem_rank), 0.0) AS rrf
      FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, lex_rank, sem_rank, rrf FROM fused
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
    tags=("similarity", "retrieval", "hybrid", "rrf"),
)
def sim_hybrid_rrf(spark, sf_dir):
    """HYBRID retrieval by Reciprocal Rank Fusion — the fusion rule
    modern search stacks use to combine a lexical and a vector
    retriever without score calibration: each retriever contributes
    1/({_RRF_C} + rank) for documents on ITS top-{_RRF_TOPK} short
    list, summed over retrievers (missing from a list = 0). Lexical =
    the BM25 scorer (`text_bm25_rank`'s exact pipeline); semantic =
    cosine against the fixed query vector (vec 0), both tie-broken
    totally. RRF needs only RANKS — which is precisely why it's the
    production default: BM25 and cosine live on incomparable scales.

    Scale shape: each retriever reduces to its top-k via
    TakeOrderedAndProject (per-partition heaps — never a world sort);
    rank assignment windows run over the FIXED {_RRF_TOPK}-row short
    lists (bounded by the top-k constant, allowlisted as such); the
    fusion is a full outer join of two k-row relations. The fused
    doubles are sums of two exact divisions in fixed order —
    hash-matched."""
    lexl = text_bm25_rank(spark, sf_dir).select("doc_id", "bm25")
    lex = lexl.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .cast("int")
        .alias("lex_rank"),
    )
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cosd = e.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc_id"),
        cosine(F.col("embedding"), F.col("qv")).alias("cos"),
    )
    seml = cosd.orderBy(F.col("cos").desc(), "doc_id").limit(_RRF_TOPK)
    sem = seml.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("cos").desc(), "doc_id"))
        .cast("int")
        .alias("sem_rank"),
    )
    fused = lex.join(sem, "doc_id", "full").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        (
            F.coalesce(F.lit(1.0) / (F.lit(_RRF_C) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(_RRF_C) + F.col("sem_rank")), F.lit(0.0))
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(10)


@query(
    "text_bigram_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS arr FROM documents
    ),
    big AS (
      SELECT doc_id, CAST(g.i AS BIGINT) AS pos,
             arr[g.i] AS w1, arr[g.i + 1] AS w2
      FROM toks, UNNEST(generate_series(1, len(arr) - 1)) AS g(i)
    ),
    c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
           FROM big GROUP BY w1),
    nll AS (
      SELECT b.doc_id, b.pos,
             -LN(CAST(c12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE)) AS v
      FROM big b
      JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
      JOIN c1 ON b.w1 = c1.w1
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                      list(v ORDER BY pos)),
                         (acc, x) -> acc + x) AS s
      FROM nll GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           ROUND(s / CAST(n_bigrams AS BIGINT), 8) AS avg_nll,
           CAST(s / CAST(n_bigrams AS BIGINT) < 4.0 AS BOOLEAN) AS is_fluent
    FROM agg ORDER BY doc_id
    """,
    tags=("text", "lm-quality", "perplexity", "llm-pipeline"),
)
def text_bigram_perplexity(spark, sf_dir):
    """Per-document bigram language-model scoring — average negative
    log-likelihood of each document under the CORPUS bigram model
    p(w₂|w₁) = c(w₁w₂)/c(w₁·) — the classic cheap perplexity filter a
    training pipeline runs before an expensive model-based one
    (documents whose word transitions are rare corpus-wide read as
    boilerplate, shuffled text, or noise). Corpus-level
    `text_bigram_entropy` answers "how predictable is the corpus";
    this scores EACH DOCUMENT against it.

    Determinism: transition counts are exact integers; each bigram's
    −ln(c₁₂/c₁) is one division + one ln of the same double (the repo's
    established ln-parity surface, rounded at 8); the per-doc sum folds
    in POSITION order (collect→sort→fold, bounded by doc length —
    allowlisted like every per-doc text collect); fluency threshold
    compares the raw fold, not the rounding.

    Scale: two map-combined count aggregates over (w₁,w₂)/(w₁) — token
    -vocabulary-sized, not corpus-sized; the scoring join back to bigram
    occurrences shuffles slim (hash-sized) keys. At 100 TB the c₁₂/c₁
    relations partition by w₁ and the join co-locates."""
    arr = F.split("text", " ")
    big = (
        t(spark, sf_dir, "documents")
        .select("doc_id", arr.alias("arr"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("arr") - 1),
                    lambda i: F.struct(
                        i.cast("long").alias("pos"),
                        F.element_at("arr", i).alias("w1"),
                        F.element_at("arr", i + 1).alias("w2"),
                    ),
                )
            ).alias("b"),
        )
        .select("doc_id", "b.pos", "b.w1", "b.w2")
    )
    big = big.persist()
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    nll = (
        big.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .select(
            "doc_id",
            "pos",
            (-F.log(F.col("c12").cast("double") / F.col("c1").cast("double"))).alias("v"),
        )
    )
    agg = nll.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.aggregate(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s["v"]),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("s"),
    )
    avg = F.col("s") / F.col("n_bigrams").cast("double")
    return agg.select(
        "doc_id",
        "n_bigrams",
        F.round(avg, 8).alias("avg_nll"),
        (avg < 4.0).alias("is_fluent"),
    ).orderBy("doc_id")


# moduli chosen against the fixture's source = 'src'||(doc_id % 20) so the
# canonical key (source, path, id) collapses on doc_id mod lcm(20,40,8)=40 —
# ~12 documents per canonical URL at the 500-doc corpus (planted variants)
_URL_RAW_EXPR = (
    "'HTTPS://WWW.' || upper(source) || '.Example.COM/cat' || (doc_id % 40)"
    " || '/page?utm_source=feed&ref=' || doc_id || '&id=' || (doc_id % 8)"
    " || '&utm_campaign=x#sec'"
)


@query(
    "text_url_canonicalize",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_URL_RAW_EXPR} AS url FROM documents
    ),
    canon AS (
      SELECT doc_id,
             lower(replace(string_split(string_split(url, '#')[1], '?')[1],
                           '://WWW.', '://'))
               || CASE WHEN len(list_filter(string_split(
                         string_split(string_split(url, '#')[1], '?')[2], '&'),
                         p -> NOT (p LIKE 'utm_%' OR p LIKE 'ref=%'))) = 0
                  THEN ''
                  ELSE '?' || array_to_string(list_sort(list_filter(string_split(
                         string_split(string_split(url, '#')[1], '?')[2], '&'),
                         p -> NOT (p LIKE 'utm_%' OR p LIKE 'ref=%'))), '&')
                  END AS curl
      FROM raw
    )
    SELECT curl AS canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc
    FROM canon
    GROUP BY curl HAVING COUNT(*) >= 2
    ORDER BY canonical_url
    """,
    tags=("text", "url", "dedup", "web-corpus"),
)
def text_url_canonicalize(spark, sf_dir):
    """URL canonicalization + duplicate-URL grouping — the very first
    dedup pass of every web-corpus pipeline (CCNet/C4 run it before
    any content hashing, because the same page arrives under thousands
    of tracking-parameter variants): lowercase scheme+host, strip a
    leading ``www.``, drop the fragment, remove tracking parameters
    (``utm_*``, ``ref``), sort the surviving query parameters, and
    group documents by the canonical form, keeping the lowest doc_id.
    The fixture corpus carries no URL column, so raw URLs are
    synthesized deterministically from (source, doc_id) with planted
    variant collisions — the canonicalization chain itself (the part
    this row attests) is exactly the production one.

    Shape: pure map-side string/array work in whole-stage codegen
    (split / higher-order filter / array_sort / join — no UDF), then
    ONE groupBy keyed by the canonical URL: the same
    shuffle-the-8-byte-key posture as the content-dedup family
    (production shuffles xxhash64(canonical) rather than the string).
    At 100 TB this is the cheapest dedup tier — no shingling, no
    pairwise anything."""
    d = t(spark, sf_dir, "documents")
    raw = d.select("doc_id", F.expr(_URL_RAW_EXPR).alias("url"))
    nofrag = F.split(F.col("url"), "#").getItem(0)
    base = F.lower(
        F.regexp_replace(F.split(nofrag, "\\?").getItem(0), "://WWW\\.", "://")
    )
    params = F.array_sort(
        F.filter(
            F.split(F.split(nofrag, "\\?").getItem(1), "&"),
            lambda p: ~(p.startswith("utm_") | p.startswith("ref=")),
        )
    )
    curl = F.concat(
        base,
        F.when(F.size(params) == 0, F.lit("")).otherwise(
            F.concat(F.lit("?"), F.array_join(params, "&"))
        ),
    )
    return (
        raw.select("doc_id", curl.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("canonical_url")
    )


@query(
    "text_pmi_collocations",
    oracle=f"""
    WITH th AS (
      SELECT {sql_token_hashes("string_split(text, ' ')")} AS h FROM documents
    ),
    bi AS (
      SELECT unnest(list_transform(range(1, len(h)),
                    i -> {{'cur': h[i], 'nxt': h[i + 1]}})) AS g
      FROM th
    ),
    cnt AS (
      SELECT g.cur AS cur, g.nxt AS nxt, CAST(COUNT(*) AS BIGINT) AS c
      FROM bi GROUP BY 1, 2
    ),
    uni AS (
      SELECT u AS tok, CAST(COUNT(*) AS BIGINT) AS uc
      FROM (SELECT unnest(h) AS u FROM th) GROUP BY u
    ),
    tot AS (
      SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM cnt) AS n_bi,
             (SELECT CAST(SUM(uc) AS BIGINT) FROM uni) AS n_tok
    )
    SELECT c.cur, c.nxt, c.c, u1.uc AS c_cur, u2.uc AS c_nxt,
           ROUND(LN((CAST(c.c AS DOUBLE) * CAST(t.n_tok AS DOUBLE)
                     * CAST(t.n_tok AS DOUBLE))
                    / (CAST(t.n_bi AS DOUBLE) * CAST(u1.uc AS DOUBLE)
                       * CAST(u2.uc AS DOUBLE))), 8) AS pmi
    FROM cnt c
    JOIN uni u1 ON u1.tok = c.cur
    JOIN uni u2 ON u2.tok = c.nxt
    CROSS JOIN tot t
    WHERE c.c >= 5
    ORDER BY pmi DESC, c.cur, c.nxt
    LIMIT 20
    """,
    tags=("text", "ngram", "collocation", "language-model"),
)
def text_pmi_collocations(spark, sf_dir):
    """Pointwise-mutual-information collocation mining: the 20 adjacent
    token pairs (support ≥ 5) whose co-occurrence most exceeds chance —
    PMI = ln(p(a,b)/(p(a)p(b))) — the classic multiword-expression
    detector feeding tokenizer-merge candidates and boilerplate
    phrase lists (the corpus-level sibling of `text_bigram_entropy`'s
    per-context predictability).

    Every probability is a ratio of EXACT counts (bigram, two
    unigrams, two corpus totals); the PMI argument assembles those
    five integers in one double product chain (term magnitudes stay
    ≪ 2^1023 — no long overflow because the floats multiply, the
    integers never do) and takes ONE ln — identical IEEE chain +
    shared libm contract, rounded 1e-8 BEFORE the ordering so the
    top-20 cut is deterministic, ties broken by (cur, nxt).

    Scale: token hashing is map-side; the shuffles carry (hash8,
    count) partials only — bigram relation + unigram relation — and
    the two joins back are slim equi-joins on 8-byte keys; totals are
    one-row broadcasts; top-20 is TakeOrdered. Raw text never
    shuffles."""
    d = t(spark, sf_dir, "documents")
    th = d.select(token_hashes(tokens("text")).alias("h")).persist()
    bi = th.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("h") - 1),
                lambda i: F.struct(
                    F.element_at("h", i).alias("cur"),
                    F.element_at("h", i + 1).alias("nxt"),
                ),
            )
        ).alias("g")
    ).select("g.cur", "g.nxt")
    cnt = bi.groupBy("cur", "nxt").agg(F.count(F.lit(1)).cast("long").alias("c"))
    uni = (
        th.select(F.explode("h").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("uc"))
    )
    tot = cnt.agg(F.sum("c").cast("long").alias("n_bi")).crossJoin(
        uni.agg(F.sum("uc").cast("long").alias("n_tok"))
    )
    pmi = F.log(
        (
            F.col("c").cast("double")
            * F.col("n_tok").cast("double")
            * F.col("n_tok").cast("double")
        )
        / (
            F.col("n_bi").cast("double")
            * F.col("c_cur").cast("double")
            * F.col("c_nxt").cast("double")
        )
    )
    return (
        cnt.filter(F.col("c") >= 5)
        .join(uni.withColumnRenamed("tok", "cur").withColumnRenamed("uc", "c_cur"), "cur")
        .join(uni.withColumnRenamed("tok", "nxt").withColumnRenamed("uc", "c_nxt"), "nxt")
        .crossJoin(F.broadcast(tot))
        .select(
            "cur", "nxt", "c", "c_cur", "c_nxt", F.round(pmi, 8).alias("pmi")
        )
        .orderBy(F.col("pmi").desc(), "cur", "nxt")
        .limit(20)
    )


_BPE_MAXLEN = 16


@query(
    "text_bpe_merge_round",
    oracle=f"""
    WITH words AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE length(w) BETWEEN 2 AND {_BPE_MAXLEN}
      GROUP BY w
    ),
    chars AS (
      SELECT w, cnt,
             list_transform(generate_series(1, length(w)),
                            i -> substr(w, CAST(i AS INTEGER), 1)) AS h
      FROM words
    ),
    pb AS (
      SELECT g['a'] AS a, g['b'] AS b, CAST(SUM(cnt) AS BIGINT) AS c
      FROM (
        SELECT cnt, unnest(list_transform(range(1, len(h)),
                    i -> {{'a': h[i], 'b': h[i + 1]}})) AS g
        FROM chars
      ) GROUP BY 1, 2
    ),
    best AS (SELECT a, b, c FROM pb ORDER BY c DESC, a, b LIMIT 1),
    tot_before AS (SELECT CAST(SUM(c) AS BIGINT) AS pairs_before FROM pb),
    merged AS (
      SELECT ch.cnt,
             list_reduce(
               list_prepend([h[1]], list_transform(h[2:], e -> [e])),
               (s, e) -> CASE WHEN s[-1] = bt.a AND e[1] = bt.b
                         THEN list_concat(s[1:len(s) - 1], [bt.a || bt.b])
                         ELSE list_append(s, e[1]) END) AS m
      FROM chars ch, best bt
    ),
    pa AS (
      SELECT CAST(SUM(c2) AS BIGINT) AS pairs_after FROM (
        SELECT cnt * CAST(len(m) - 1 AS BIGINT) AS c2 FROM merged
      )
    ),
    nw AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_words FROM words)
    SELECT bt.a, bt.b, bt.a || bt.b AS merged_symbol, bt.c AS pair_count,
           nw.n_distinct_words, tb.pairs_before, pa.pairs_after,
           tb.pairs_before - pa.pairs_after AS merges_applied
    FROM best bt, tot_before tb, pa, nw
    """,
    tags=("text", "tokenizer", "bpe", "train"),
)
def text_bpe_merge_round(spark, sf_dir):
    """ONE round of byte-pair-encoding tokenizer training at corpus
    scale — the inner loop of BPE: count adjacent symbol pairs across
    the (distinct-word, frequency) table, pick the most frequent pair
    (deterministic (count, a, b) tie-break), then APPLY the merge to
    every word with the standard greedy left-to-right scan (an 'aaa'
    corpus merges once per non-overlapping occurrence — the fold's
    just-merged symbol can't re-merge, which is exactly BPE's
    behavior). Looping this operator IS tokenizer training; one round
    is declared so the oracle can replay it exactly.

    Exactness: pair counts weight by word frequency (exact longs);
    the merge-apply is a per-word sequential fold over ≤{_BPE_MAXLEN}
    chars (hard cap — the per-row state bound); the emitted audit
    (pairs_before − pairs_after = merges actually applied) is
    integer arithmetic that exposes the overlap subtlety a naive
    count-based implementation gets wrong.

    Scale: the fact table collapses ONCE to the distinct-word
    frequency relation (the BPE working set — millions of rows at
    100 TB, never the corpus); pair counting and merge application
    are map-side over that relation; the argmax is a TakeOrdered-1."""
    d = t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens("text")).alias("w"))
        .filter(F.length("w").between(2, _BPE_MAXLEN))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    chars = words.select(
        "w",
        "cnt",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("h"),
    )
    pb = (
        chars.select(
            "cnt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("h") - 1),
                    lambda i: F.struct(
                        F.element_at("h", i).alias("a"),
                        F.element_at("h", i + 1).alias("b"),
                    ),
                )
            ).alias("g"),
        )
        .groupBy("g.a", "g.b")
        .agg(F.sum("cnt").cast("long").alias("c"))
        .persist()
    )
    best = pb.orderBy(F.col("c").desc(), "a", "b").limit(1)
    tot_before = pb.agg(F.sum("c").cast("long").alias("pairs_before"))
    merged = chars.crossJoin(F.broadcast(best.select("a", "b"))).select(
        "cnt",
        F.aggregate(
            F.slice(F.col("h"), 2, F.size("h") - 1),
            F.slice(F.col("h"), 1, 1),
            lambda s, e: F.when(
                (F.element_at(s, -1) == F.col("a")) & (e == F.col("b")),
                F.concat(
                    F.slice(s, 1, F.size(s) - 1),
                    F.array(F.concat(F.col("a"), F.col("b"))),
                ),
            ).otherwise(F.concat(s, F.array(e))),
        ).alias("m"),
    )
    pa = merged.agg(
        F.sum(F.col("cnt") * (F.size("m") - 1).cast("long"))
        .cast("long")
        .alias("pairs_after")
    )
    nw = words.agg(F.count(F.lit(1)).cast("long").alias("n_distinct_words"))
    return (
        best.crossJoin(F.broadcast(tot_before))
        .crossJoin(F.broadcast(pa))
        .crossJoin(F.broadcast(nw))
        .select(
            "a",
            "b",
            F.concat("a", "b").alias("merged_symbol"),
            F.col("c").alias("pair_count"),
            "n_distinct_words",
            "pairs_before",
            "pairs_after",
            (F.col("pairs_before") - F.col("pairs_after")).alias("merges_applied"),
        )
    )


# ---------------------------------------------------------------------------
# BPE tokenizer: LEARN a bounded merge table, APPLY it corpus-wide
# (round 12, VERDICT r11 item 5 — the missing half of text_bpe_merge_round)
# ---------------------------------------------------------------------------

_BPE_APPLY_ROUNDS = 8  # bounded merge-table size (training rounds)
_BPE_MIN_PAIR = 2  # stop when no pair repeats — merging singletons is noise


def _sql_bpe_stages(rounds: int = _BPE_APPLY_ROUNDS) -> str:
    """DuckDB CTE chain replaying `rounds` BPE merge rounds: h0 is the
    character-split distinct-word relation; each stage counts adjacent
    pairs, picks the argmax with the (count DESC, a, b) tie-break (empty
    when no pair reaches ``_BPE_MIN_PAIR``), and applies the merge with
    the greedy left-to-right list_reduce fold text_bpe_merge_round
    pinned. LEFT JOIN ON TRUE keeps every word when a stage's best-pair
    relation is empty (merges are then a no-op — once no pair repeats,
    no later stage can create one, matching the Spark loop's break)."""
    out = [
        "h0 AS (SELECT w, cnt, list_transform(generate_series(1, length(w)),"
        " i -> substr(w, CAST(i AS INTEGER), 1)) AS h FROM bpe_words)"
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        out.append(f"""
    p{r} AS (
      SELECT g['a'] AS a, g['b'] AS b, CAST(SUM(cnt) AS BIGINT) AS c
      FROM (
        SELECT cnt, unnest(list_transform(range(1, len(h)),
                    i -> {{'a': h[i], 'b': h[i + 1]}})) AS g
        FROM h{p}
      ) GROUP BY 1, 2
    ),
    b{r} AS (SELECT a, b FROM p{r} WHERE c >= {_BPE_MIN_PAIR}
             ORDER BY c DESC, a, b LIMIT 1),
    h{r} AS (
      SELECT w, cnt,
             CASE WHEN b{r}.a IS NULL THEN h ELSE
               list_reduce(
                 list_prepend([h[1]], list_transform(h[2:], e -> [e])),
                 (s, e) -> CASE WHEN s[-1] = b{r}.a AND e[1] = b{r}.b
                           THEN list_concat(s[1:len(s) - 1], [b{r}.a || b{r}.b])
                           ELSE list_append(s, e[1]) END)
             END AS h
      FROM h{p} LEFT JOIN b{r} ON TRUE
    )""")
    return ",\n    ".join(out)


# Shared oracle prelude: the in-range distinct-word working set, the full
# merge replay, and the per-document token counts (out-of-range words fall
# back to CHARACTER tokens — BPE's own base alphabet).
BPE_DOC_TOKENS_CTES = f"""
    bpe_words AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE length(w) BETWEEN 2 AND {_BPE_MAXLEN}
      GROUP BY w
    ),
    {_sql_bpe_stages()},
    bpe_nm AS (
      SELECT CAST({" + ".join(f"(SELECT COUNT(*) FROM b{r})" for r in range(1, _BPE_APPLY_ROUNDS + 1))}
             AS INTEGER) AS n_merges
    ),
    bpe_applied AS (
      SELECT w, CAST(len(h) AS BIGINT) AS n_tok FROM h{_BPE_APPLY_ROUNDS}
    ),
    bpe_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(COALESCE(a.n_tok, CAST(length(w) AS BIGINT))) AS BIGINT)
               AS n_tokens_bpe
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) wa
      LEFT JOIN bpe_applied a USING (w)
      GROUP BY doc_id
    )"""


def _bpe_merge_fold(a: str, b: str):
    """Greedy left-to-right single-merge application over the symbol
    array `h` — the literal-pair form of text_bpe_merge_round's fold."""
    return F.aggregate(
        F.slice(F.col("h"), 2, F.size("h") - 1),
        F.slice(F.col("h"), 1, 1),
        lambda s, e: F.when(
            (F.element_at(s, -1) == F.lit(a)) & (e == F.lit(b)),
            F.concat(
                F.slice(s, 1, F.size(s) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(s, F.array(e))),
    )


def bpe_doc_tokens(spark, sf_dir):
    """Per-document REAL tokenizer token counts: learn a merge table of
    ≤``_BPE_APPLY_ROUNDS`` BPE merges on the distinct-word working set
    (the CC/k-means loop discipline — bounded rounds, localCheckpoint
    per round, ONE one-row control-plane read per round for the argmax
    pair), then count each document's tokens from the final symbolized
    vocabulary. Returns (per-doc DataFrame [doc_id, n_words,
    n_tokens_bpe], n_merges_applied).

    Training applies each learned merge to the working set before
    counting the next round's pairs, so the fixpoint relation IS the
    tokenized vocabulary — apply needs no second pass. Words outside
    the [2, {_BPE_MAXLEN}]-char training range fall back to CHARACTER
    tokens (BPE's base alphabet — exactly what an untrained tokenizer
    does to out-of-vocabulary text).

    Scale shape: the corpus collapses once to the distinct-word
    frequency relation (millions of rows at 100 TB, never the corpus);
    every training round is map-side pair explosion + one aggregate +
    a TakeOrdered-1; the apply join shuffles the corpus token stream
    ONCE on the word key (AQE broadcasts the vocab side when small);
    per-doc counts group on doc_id. The one-row argmax read per round
    is control plane, the k-means class."""
    d = t(spark, sf_dir, "documents")
    wtoks = d.select("doc_id", F.explode(tokens("text")).alias("w"))
    vocab = (
        wtoks.filter(F.length("w").between(2, _BPE_MAXLEN))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    chars = vocab.select(
        "w",
        "cnt",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("h"),
    ).transform(eager_barrier)
    n_merges = 0
    for _ in range(_BPE_APPLY_ROUNDS):
        pb = (
            chars.select(
                "cnt",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("h") - 1),
                        lambda i: F.struct(
                            F.element_at("h", i).alias("a"),
                            F.element_at("h", i + 1).alias("b"),
                        ),
                    )
                ).alias("g"),
            )
            .groupBy("g.a", "g.b")
            .agg(F.sum("cnt").cast("long").alias("c"))
        )
        best = (
            pb.filter(F.col("c") >= _BPE_MIN_PAIR)
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(1)
            .head()  # control-plane read: ONE (a, b) pair steers the loop
        )
        if best is None:
            break
        chars = chars.select(
            "w", "cnt", _bpe_merge_fold(best["a"], best["b"]).alias("h")
        ).transform(eager_barrier)
        n_merges += 1
    applied = chars.select("w", F.size("h").cast("long").alias("n_tok"))
    per_doc = (
        wtoks.join(applied, "w", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tok"), F.length("w").cast("long")).alias("n_tok"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens_bpe"),
        )
    )
    return per_doc, n_merges


@query(
    "text_bpe_tokenize_apply",
    oracle=f"""
    WITH {BPE_DOC_TOKENS_CTES}
    SELECT d.doc_id, d.n_words, d.n_tokens_bpe, nm.n_merges AS n_merges_applied
    FROM bpe_doc d CROSS JOIN bpe_nm nm
    ORDER BY d.doc_id
    """,
    tags=("text", "tokenizer", "bpe", "apply"),
)
def text_bpe_tokenize_apply(spark, sf_dir):
    """The APPLY half of BPE tokenization (text_bpe_merge_round is one
    training round; this trains ``_BPE_APPLY_ROUNDS`` rounds and emits
    per-document REAL tokenizer token counts — what a pretraining token
    budget actually meters, vs the whitespace proxy). The DuckDB oracle
    replays the full training loop as a fixed chain of argmax + fold
    CTEs and the apply as the same per-word list_reduce, so the merge
    TABLE (not just counts) is implicitly hash-verified: any divergence
    in any round's argmax or fold changes downstream token counts.
    Design + scale argument in ``bpe_doc_tokens``."""
    per_doc, n_merges = bpe_doc_tokens(spark, sf_dir)
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_tokens_bpe",
        F.lit(n_merges).cast("int").alias("n_merges_applied"),
    ).orderBy("doc_id")


@query(
    "text_bigram_freq",
    oracle="""
    WITH grams AS (
      SELECT unnest(list_transform(
               range(1, len(l)), i -> l[i] || ' ' || l[i + 1]
             )) AS bigram
      FROM (SELECT string_split(text, ' ') AS l FROM documents)
    )
    SELECT bigram, COUNT(*) AS freq
    FROM grams
    GROUP BY bigram
    ORDER BY freq DESC, bigram
    LIMIT 50
    """,
    tags=("text", "ngram", "higher-order"),
)
def text_bigram_freq(spark, sf_dir):
    """Top-50 corpus bigrams: tokenize once per document, build the
    bigram list with a higher-order transform over an index sequence
    (no explode-then-self-join — the classic quadratic trap), then
    explode and count. All JVM-side; per-document work is linear in
    token count, the shuffle carries (bigram, partial count) pairs from
    map-side combine, and the top-50 is TakeOrderedAndProject with a
    total (freq, bigram) key.

    The token array is bound ONCE per document as a lambda variable —
    with the split() inlined into the bigram lambda, every element_at
    probe re-split the full text (no common-subexpression elimination
    inside higher-order lambdas → O(tokens²) re-splits per doc;
    measured 3.2 -> 0.45 s at sf0.1, identical output)."""
    docs = t(spark, sf_dir, "documents")
    tokens = F.split(F.col("text"), " ")
    grams = F.transform(
        F.array(tokens),
        lambda toks: F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        ),
    )[0]
    return (
        docs.filter(F.size(tokens) >= 2)
        .select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "bigram")
        .limit(50)
    )
