"""Text-analysis queries (scale extensions): language ID, quality
scoring, token stats, fingerprinting, character census, top words.

All drive ``operators.textstats`` pure column expressions; ratios are
single IEEE divisions (identical across engines) rounded to 4dp.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators import textstats
from udacity_data_wrangling_osm_case_study_spark.plans.registry import TEXT_NORM, register, table

_TOKS = f"string_split({TEXT_NORM}, ' ')"
_STOPS = "['the', 'a', 'of', 'and', 'to', 'in']"


@register(
    "doc_profiles",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks, {TEXT_NORM} AS norm FROM documents),
    m AS (
        SELECT doc_id, toks, norm,
               len(toks) AS n_tokens,
               len(list_filter(toks, w -> list_contains({_STOPS}, w)))
                   AS n_stop,
               list_reduce(list_transform(toks, w -> length(w)),
                           (a, b) -> a + b) AS total_len
        FROM t
    )
    SELECT doc_id,
           n_tokens,
           (n_stop * 10000) // n_tokens AS stop_ratio_bp,
           (total_len * 100) // n_tokens AS avg_token_len_c,
           ((10 * n_stop + 10 * n_tokens - abs(total_len - 5 * n_tokens))
            * 1000) // (20 * n_tokens) AS quality_pm,
           CASE WHEN list_contains(toks, 'the') THEN 'en'
                WHEN list_contains(toks, 'der') THEN 'de'
                WHEN list_contains(toks, 'le') THEN 'fr'
                WHEN list_contains(toks, 'el') THEN 'es'
                ELSE 'und' END AS lang_guess,
           md5(norm) AS fingerprint
    FROM m ORDER BY doc_id
    """,
)
def doc_profiles(spark, sf_dir):
    """Per-doc analysis: token count, stopword ratio (basis points),
    avg token length (centi-chars), composite quality (per-mille),
    marker-word language guess, content fingerprint — one codegen pass.
    Ratio metrics are integer-scaled: exact in every engine."""
    return textstats.doc_profile(table(spark, sf_dir, "documents")).orderBy("doc_id")


@register(
    "quality_classifier",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents
               WHERE text IS NOT NULL),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    hx AS (SELECT doc_id, md5(tok) AS h FROM tok),
    w AS (
        SELECT doc_id,
               (((CASE WHEN ascii(substr(h, 1, 1)) >= 97
                       THEN ascii(substr(h, 1, 1)) - 87
                       ELSE ascii(substr(h, 1, 1)) - 48 END) * 4096
                + (CASE WHEN ascii(substr(h, 2, 1)) >= 97
                        THEN ascii(substr(h, 2, 1)) - 87
                        ELSE ascii(substr(h, 2, 1)) - 48 END) * 256
                + (CASE WHEN ascii(substr(h, 3, 1)) >= 97
                        THEN ascii(substr(h, 3, 1)) - 87
                        ELSE ascii(substr(h, 3, 1)) - 48 END) * 16
                + (CASE WHEN ascii(substr(h, 4, 1)) >= 97
                        THEN ascii(substr(h, 4, 1)) - 87
                        ELSE ascii(substr(h, 4, 1)) - 48 END)) % 2001) AS w
        FROM hx
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(w) // COUNT(*) AS BIGINT) AS score_milli,
           (SUM(w) // COUNT(*)) >= 1000 AS keep
    FROM w GROUP BY doc_id ORDER BY doc_id
    """,
)
def quality_classifier(spark, sf_dir):
    """Model-based quality filter: feature-hashed linear classifier
    score per document (operators.textstats.hashed_linear_score) —
    mean token-bucket weight in milli-units plus the keep verdict.
    The oracle recomputes the 4-hex-digit bucket arithmetic from
    md5 character codes."""
    return textstats.hashed_linear_score(
        table(spark, sf_dir, "documents")
    ).orderBy("doc_id")


@register(
    "lang_id_confusion",
    f"""
    WITH g AS (
        SELECT lang,
               CASE WHEN list_contains({_TOKS}, 'the') THEN 'en'
                    WHEN list_contains({_TOKS}, 'der') THEN 'de'
                    WHEN list_contains({_TOKS}, 'le') THEN 'fr'
                    WHEN list_contains({_TOKS}, 'el') THEN 'es'
                    ELSE 'und' END AS lang_guess
        FROM documents
    )
    SELECT lang, lang_guess, COUNT(*) AS n
    FROM g GROUP BY lang, lang_guess ORDER BY lang, lang_guess
    """,
)
def lang_id_confusion(spark, sf_dir):
    """Language-ID confusion matrix: labeled lang × marker-word guess."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("lang", textstats.lang_id(F.col("text")).alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "lang_guess")
    )


@register(
    "corpus_token_stats",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS w FROM documents)
    SELECT COUNT(*) AS total_tokens,
           COUNT(DISTINCT w) AS distinct_tokens,
           COUNT(DISTINCT doc_id) AS n_docs,
           ROUND(COUNT(*) / NULLIF(COUNT(DISTINCT doc_id), 0), 4)
               AS avg_tokens_per_doc
    FROM tok
    """,
)
def corpus_token_stats(spark, sf_dir):
    """Corpus-level token counting (whitespace tokenizer)."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(textstats.tokens(F.col("text"))).alias("w")
    )
    return tok.agg(
        F.count("*").alias("total_tokens"),
        F.countDistinct("w").alias("distinct_tokens"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.round(
            F.try_divide(F.count("*"), F.countDistinct("doc_id")), 4
        ).alias("avg_tokens_per_doc"),
    )


@register(
    "top_words",
    f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS w FROM documents)
    SELECT w, COUNT(*) AS n FROM tok
    GROUP BY w ORDER BY n DESC, w LIMIT 10
    """,
)
def top_words(spark, sf_dir):
    """A1/O1 on text: top-10 tokens by frequency."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(textstats.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "w")
        .limit(10)
    )


@register(
    "char_census",
    """
    WITH ch AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS ch
        FROM documents
    )
    SELECT ch, MIN(doc_id) AS first_doc
    FROM ch GROUP BY ch ORDER BY ch
    """,
)
def char_census(spark, sf_dir):
    """A3: the phone-audit character census — distinct characters with
    the first document they appear in."""
    return textstats.char_census(table(spark, sf_dir, "documents")).select(
        "ch", "first_doc"
    ).orderBy("ch")


@register(
    "props_key_histogram",
    """
    SELECT TRY_CAST(NULLIF(regexp_extract(props, '(\\d+)', 1), '') AS INT) AS k,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(30,4))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events GROUP BY k ORDER BY k
    """,
)
def props_key_histogram(spark, sf_dir):
    """Semi-structured props column: regex field extraction + rollup.
    A props value with no digit field maps to the NULL bucket on both
    sides (regexp_extract's no-match '' would be an ANSI cast error)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(
            F.nullif(F.regexp_extract(F.col("props"), "(\\d+)", 1), F.lit(""))
            .try_cast("int")
            .alias("k"),
            "value",
        )
        .groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .orderBy("k")
    )


@register(
    "regex_token_count",
    f"""
    WITH t AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '[a-z0-9]+')) AS n_word_tokens,
               len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_symbol_tokens,
               len({_TOKS}) AS n_ws_tokens
        FROM documents
    )
    SELECT doc_id, n_word_tokens, n_symbol_tokens, n_ws_tokens,
           n_word_tokens + n_symbol_tokens AS n_bpe_ish_tokens
    FROM t ORDER BY doc_id
    """,
)
def regex_token_count(spark, sf_dir):
    """Token counting two ways: whitespace split and a BPE-ish regex
    tokenizer (alnum runs + individual symbols) — the pre-tokenization
    cost model for an LLM data pipeline, all in one scan."""
    docs = table(spark, sf_dir, "documents")
    word = F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0))
    sym = F.size(F.regexp_extract_all(F.col("text"), F.lit("[^a-z0-9 ]"), 0))
    ws = F.size(textstats.tokens(F.col("text")))
    return docs.select(
        "doc_id",
        word.alias("n_word_tokens"),
        sym.alias("n_symbol_tokens"),
        ws.alias("n_ws_tokens"),
        (word + sym).alias("n_bpe_ish_tokens"),
    ).orderBy("doc_id")


@register(
    "train_val_test_split",
    """
    WITH b AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 10 THEN 'test'
                WHEN bucket < 20 THEN 'val'
                ELSE 'train' END AS split,
           lang, COUNT(*) AS n
    FROM b GROUP BY split, lang ORDER BY split, lang
    """,
)
def train_val_test_split(spark, sf_dir):
    """Deterministic content-hash dataset split (10/10/80): the same
    doc always lands in the same split, across engines, runs, and
    repartitioning — RNG sampling can guarantee none of that. Output:
    split × lang counts (the stratification audit)."""
    from udacity_data_wrangling_osm_case_study_spark.operators import sampling

    docs = sampling.train_val_test_split(
        table(spark, sf_dir, "documents"), "doc_id"
    )
    return (
        docs.groupBy("split", "lang")
        .agg(F.count("*").alias("n"))
        .orderBy("split", "lang")
    )


@register(
    "doc_chunks",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    chunks AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(toks) - 10, 1) + 1, 20),
                   s -> struct_pack(
                       chunk_idx := (s - 1) // 20,
                       chunk_tokens := len(toks[s:least(s + 29, len(toks))]),
                       chunk_hash := md5(array_to_string(
                           toks[s:least(s + 29, len(toks))], ' '))
                   ))) AS c
        FROM t
    )
    SELECT doc_id, c.chunk_idx AS chunk_idx,
           c.chunk_tokens AS chunk_tokens, c.chunk_hash AS chunk_hash
    FROM chunks ORDER BY doc_id, chunk_idx
    """,
)
def doc_chunks(spark, sf_dir):
    """Training-data chunking: 30-token windows with 10-token overlap
    (stride 20), pure higher-order array expressions — the map-side
    segmentation step of an LLM ingest pipeline, no UDTF/UDF needed.
    Starts are bounded by n-10 which still guarantees every token lands
    in some chunk (the previous window always reaches the tail);
    probe-verified across doc sizes incl. sub-window docs."""
    # Tokenize in a separate projection: captured inside the transform
    # lambda the regexp+split would re-run per chunk start (twice per
    # chunk via the two chunk(s) calls).
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), "\\s+", " "), " "
        ).alias("toks"),
    )
    toks = F.col("toks")
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n - 10, F.lit(1)), F.lit(20))
    chunk = lambda s: F.slice(toks, s, 30)
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            ((s - 1) / 20).cast("long").alias("chunk_idx"),
            F.size(chunk(s)).alias("chunk_tokens"),
            F.md5(F.array_join(chunk(s), " ")).alias("chunk_hash"),
        ),
    )
    return (
        docs.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk_tokens").alias("chunk_tokens"),
            F.col("c.chunk_hash").alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "tfidf_top_terms",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok),
    scored AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * CAST(ROUND(ln(CAST(n.n_docs AS DOUBLE) / df.df) * 1000000)
                            AS BIGINT) AS score_micro
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, score_micro FROM (
        SELECT doc_id, term, score_micro,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score_micro DESC, term) AS rn
        FROM scored
    ) WHERE rn = 1 ORDER BY doc_id
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """TF-IDF: per-doc top term. IDF is integer-scaled (micro units)
    BEFORE the tf multiplication so ranking never rides on float
    products; df comes from the inverted index (term -> doc count),
    idf joins back broadcast."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), "\\s+", " "), " ")
        ).alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = tok.select(F.countDistinct("doc_id").alias("n_docs"))
    idf = (
        df_.crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            F.round(F.log(F.col("n_docs").cast("double") / F.col("df")) * 1000000)
            .cast("bigint")
            .alias("idf_micro"),
        )
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        "doc_id", "term", (F.col("tf") * F.col("idf_micro")).alias("score_micro")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score_micro"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "term", "score_micro")
        .orderBy("doc_id")
    )


@register(
    "pii_term_scrub",
    f"""
    WITH s AS (SELECT doc_id, {TEXT_NORM} AS norm FROM documents),
    r AS (
        SELECT doc_id,
               len(regexp_extract_all(norm, '\\b(table|row|value)\\b'))
                   AS n_scrubbed,
               regexp_replace(norm, '\\b(table|row|value)\\b', '<SCRUB>', 'g')
                   AS scrubbed
        FROM s
    )
    SELECT doc_id, n_scrubbed, length(scrubbed) AS scrubbed_chars,
           md5(scrubbed) AS scrubbed_fp
    FROM r ORDER BY doc_id
    """,
)
def pii_term_scrub(spark, sf_dir):
    """Denylist scrubbing / redaction: whole-word matches replaced with
    a redaction token; per-doc match count + scrubbed fingerprint.
    The PII-scrub stage of a training pipeline (swap the demo denylist
    for email/phone patterns); single regexp pass, codegen end-to-end."""
    return textstats.scrub_terms(
        table(spark, sf_dir, "documents"), ["table", "row", "value"]
    ).orderBy("doc_id")


@register(
    "repetition_quality",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents
               WHERE text IS NOT NULL),
    m AS (
        SELECT doc_id, toks, len(toks) AS n,
               list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                              i -> toks[i] || ' ' || toks[i+1]) AS bigrams
        FROM t
    )
    SELECT doc_id,
           (list_aggregate(list_transform(list_distinct(toks),
                t -> len(list_filter(toks, x -> x = t))), 'max') * 10000) // n
               AS top_token_bp,
           ((len(bigrams) - len(list_distinct(bigrams))) * 10000)
               // greatest(len(bigrams), 1) AS dup_bigram_bp
    FROM m ORDER BY doc_id
    """,
)
def repetition_quality(spark, sf_dir):
    """Gopher-style repetition filters: most-frequent-token share and
    duplicate-bigram share per doc (basis points). Row-local array
    expressions — zero shuffle at any corpus size."""
    return textstats.repetition_profile(
        table(spark, sf_dir, "documents")
    ).orderBy("doc_id")


@register(
    "unigram_surprisal",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    dt AS (SELECT doc_id, tok, COUNT(*) AS k FROM tok GROUP BY doc_id, tok),
    v AS (SELECT tok, CAST(SUM(k) AS BIGINT) AS c FROM dt GROUP BY tok),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS T FROM v)
    SELECT doc_id,
           CAST(SUM(k) AS BIGINT) AS n_tokens,
           CAST(SUM(k * (length(CAST(T AS VARCHAR))
                         - length(CAST(c AS VARCHAR)))) * 100
                // SUM(k) AS BIGINT) AS mean_surprisal_centi,
           CAST(SUM(CASE WHEN c * 100 < T THEN k ELSE 0 END) * 10000
                // SUM(k) AS BIGINT) AS rare_bp
    FROM dt JOIN v USING (tok) CROSS JOIN tot
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def unigram_surprisal(spark, sf_dir):
    """CCNet-style LM quality signal, engine-portable: per-doc mean
    unigram surprisal against the corpus itself on the digit-count
    (integer log10) scale, plus the share of rare (<1% df) tokens.
    All-integer arithmetic — no libm, no float summation order."""
    return textstats.unigram_surprisal(
        table(spark, sf_dir, "documents")
    ).orderBy("doc_id")


@register(
    "subword_vocab",
    f"""
    WITH t AS (SELECT {_TOKS} AS toks FROM documents),
    w AS (SELECT unnest(toks) AS tok FROM t),
    v AS (SELECT tok, COUNT(*) AS cnt FROM w GROUP BY tok),
    g AS (
        SELECT unnest(flatten(list_transform(range(2, 5),
                   l -> list_transform(
                       range(1, greatest(length(tok) - l + 1, 0) + 1),
                       s -> substr(tok, CAST(s AS INT), CAST(l AS INT))))))
                   AS gram,
               cnt
        FROM v WHERE length(tok) >= 2
    )
    SELECT gram, CAST(SUM(cnt) AS BIGINT) AS total_count
    FROM g GROUP BY gram
    ORDER BY total_count DESC, gram LIMIT 50
    """,
    scan_budget=2,  # BPE merge-round loop
)
def subword_vocab(spark, sf_dir):
    """Subword vocab induction (the BPE/WordPiece candidate-mining
    pass): top-50 character 2-4-grams by corpus frequency, counted
    over the distinct-word vocabulary weighted by word counts — the
    corpus collapses to the vocab before any substring explode."""
    return textstats.subword_vocab(table(spark, sf_dir, "documents"))


@register(
    "bigram_surprisal",
    f"""
    WITH t AS (SELECT doc_id AS id, {_TOKS} AS toks FROM documents),
    bgl AS (
        SELECT id, unnest(list_transform(
            range(1, len(toks)),
            i -> toks[i] || ' ' || toks[i + 1])) AS bg
        FROM t WHERE len(toks) >= 2
    ),
    doc_bg AS (SELECT id, bg, COUNT(*) AS k FROM bgl GROUP BY id, bg),
    bgc AS (SELECT bg, SUM(k) AS c FROM doc_bg GROUP BY bg),
    pre AS (SELECT string_split(bg, ' ')[1] AS w1, SUM(c) AS p
            FROM bgc GROUP BY 1),
    scored AS (
        SELECT id, k, c, p,
               length(CAST(p AS VARCHAR)) - length(CAST(c AS VARCHAR)) AS s,
               CASE WHEN c = 1 THEN 1 ELSE 0 END AS novel
        FROM doc_bg
        JOIN bgc USING (bg)
        JOIN pre ON string_split(bg, ' ')[1] = pre.w1
    )
    SELECT id AS doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
           CAST(SUM(k * s) * 100 // SUM(k) AS BIGINT)
               AS mean_cond_surprisal_centi,
           CAST(SUM(k * novel) * 10000 // SUM(k) AS BIGINT) AS novel_bp
    FROM scored GROUP BY id ORDER BY doc_id
    """,
)
def bigram_surprisal(spark, sf_dir):
    """Conditional bigram surprisal per doc (the KenLM-direction LM
    quality signal beside the unigram scorer): digit-count
    -log10(c(w1 w2)/c(w1 ·)) averaged over the doc's bigrams, plus the
    share of corpus-unique bigrams — all exact integers
    (operators.textstats.bigram_surprisal)."""
    return textstats.bigram_surprisal(
        table(spark, sf_dir, "documents")
    ).orderBy("doc_id")


@register(
    "hot_ngrams",
    f"""
    WITH t AS (SELECT doc_id AS id, {_TOKS} AS toks FROM documents),
    g AS (
        SELECT id, unnest(list_transform(
            range(1, greatest(len(toks) - 4, 0) + 1),
            i -> array_to_string(toks[i:i+4], ' '))) AS gram
        FROM t
    ),
    occ AS (
        SELECT gram, COUNT(*) AS n_occurrences,
               COUNT(DISTINCT id) AS n_docs, MIN(id) AS first_doc
        FROM g GROUP BY gram HAVING COUNT(DISTINCT id) >= 2
    )
    SELECT gram, n_occurrences, n_docs, first_doc
    FROM occ ORDER BY n_docs DESC, n_occurrences DESC, gram LIMIT 20
    """,
)
def hot_ngrams(spark, sf_dir):
    """Most-duplicated word 5-grams across the corpus (the analysis
    table of Lee et al.'s substring-dedup paper): occurrence count,
    document frequency, earliest doc. The boilerplate-phrase detector
    that decides what substring dedup should target. One gram explode
    (row-local) + one map-side-combinable groupBy + top-20; at web
    scale the group key becomes the gram's md5 with the text kept via
    any-value, same plan shape."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(textstats.normalize_text(F.col("text")), " ")
    base = docs.select(F.col("doc_id").alias("id"), toks.alias("toks"))
    grams = base.filter(F.size("toks") >= 5).select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 4),
                lambda s: F.array_join(F.slice("toks", s, 5), " "),
            )
        ).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("id").alias("n_docs"),
            F.min("id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "gram")
        .limit(20)
    )


@register(
    "classifier_auc",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    hx AS (SELECT doc_id, md5(tok) AS h FROM tok),
    w AS (
        SELECT doc_id,
               (((CASE WHEN ascii(substr(h, 1, 1)) >= 97
                       THEN ascii(substr(h, 1, 1)) - 87
                       ELSE ascii(substr(h, 1, 1)) - 48 END) * 4096
                + (CASE WHEN ascii(substr(h, 2, 1)) >= 97
                        THEN ascii(substr(h, 2, 1)) - 87
                        ELSE ascii(substr(h, 2, 1)) - 48 END) * 256
                + (CASE WHEN ascii(substr(h, 3, 1)) >= 97
                        THEN ascii(substr(h, 3, 1)) - 87
                        ELSE ascii(substr(h, 3, 1)) - 48 END) * 16
                + (CASE WHEN ascii(substr(h, 4, 1)) >= 97
                        THEN ascii(substr(h, 4, 1)) - 87
                        ELSE ascii(substr(h, 4, 1)) - 48 END)) % 2001) AS w
        FROM hx
    ),
    s AS (SELECT doc_id, SUM(w) // COUNT(*) AS score FROM w GROUP BY doc_id),
    lab AS (
        SELECT d.doc_id, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y, s.score
        FROM documents d JOIN s USING (doc_id)
    ),
    g AS (SELECT score, SUM(y) AS p, SUM(1 - y) AS q FROM lab GROUP BY score),
    c AS (
        SELECT score, p, q,
               COALESCE(SUM(q) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cq
        FROM g
    ),
    m AS (SELECT SUM(p * cq) * 2 + SUM(p * q) AS u2,
                 SUM(p) AS n_pos, SUM(q) AS n_neg
          FROM c)
    SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           CAST(10000 * u2 // NULLIF(2 * n_pos * n_neg, 0) AS BIGINT) AS auc_bp
    FROM m
    """,
)
def classifier_auc(spark, sf_dir):
    """Distributed AUC for the quality classifier against the 'is
    English' label — the evaluation metric a filtering-model training
    loop computes at corpus scale. Mann-Whitney rank-sum form with
    exact tie handling, all-integer: 2U = 2·#(pos>neg) + #(ties),
    auc_bp = 10000·2U div (2·n_pos·n_neg).

    Scale shape: scores reduce to per-score (pos, neg) counts first
    (one map-side-combinable shuffle, output bounded by the score
    cardinality — ≤2001 milli-unit buckets by construction), so the
    cumulative window runs over a tiny frame, never the corpus; the
    O(n_pos·n_neg) pair space is never materialized."""
    docs = table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    scores = textstats.hashed_linear_score(docs).select("doc_id", "score_milli")
    # NULL lang is "not English" (the oracle's CASE ELSE 0), not a
    # NULL label that would silently drop from the sums.
    labeled = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("y"),
    ).join(scores, "doc_id")
    g = labeled.groupBy("score_milli").agg(
        F.sum("y").alias("p"), F.sum(F.lit(1) - F.col("y")).alias("q")
    )
    win = Window.orderBy("score_milli").rowsBetween(
        Window.unboundedPreceding, -1
    )
    c = g.select(
        "p", "q", F.coalesce(F.sum("q").over(win), F.lit(0)).alias("cq")
    )
    return c.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("q").cast("long").alias("n_neg"),
        (F.sum(F.col("p") * F.col("cq")) * 2 + F.sum(F.col("p") * F.col("q"))).alias(
            "_u2"
        ),
    ).select(
        "n_pos",
        "n_neg",
        # AUC undefined with an empty class: NULL, not a zero-division
        F.expr("10000 * _u2 DIV nullif(2 * n_pos * n_neg, 0)").alias("auc_bp"),
    )


@register(
    "pmi_collocations",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT unnest(toks) AS w FROM t),
    uni AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT COUNT(*) AS T FROM tok),
    bgl AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1])) AS bg
        FROM t WHERE len(toks) >= 2
    ),
    bgc AS (SELECT bg, COUNT(*) AS c12 FROM bgl GROUP BY bg
            HAVING COUNT(*) >= 5),
    scored AS (
        SELECT bg AS bigram, c12,
               length(CAST(c12 AS VARCHAR)) + length(CAST(T AS VARCHAR))
               - length(CAST(u1.c AS VARCHAR)) - length(CAST(u2.c AS VARCHAR))
                   AS pmi_digits
        FROM bgc, tot
        JOIN uni u1 ON u1.w = string_split(bg, ' ')[1]
        JOIN uni u2 ON u2.w = string_split(bg, ' ')[2]
    )
    SELECT bigram, c12, CAST(pmi_digits AS BIGINT) AS pmi_digits
    FROM scored ORDER BY pmi_digits DESC, c12 DESC, bigram LIMIT 20
    """,
)
def pmi_collocations(spark, sf_dir):
    """Collocation mining: top-20 bigrams by pointwise mutual
    information on the digit-count log10 scale — digits(c12) +
    digits(T) - digits(c1) - digits(c2), an exact integer within ±2 of
    PMI/log10 — with a min-count floor of 5. The phrase detector
    (word2vec-style) that decides which token pairs merge into one
    unit. Unigram and bigram vocabularies reduce before any join; the
    corpus total is a one-row broadcast."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(textstats.normalize_text(F.col("text")), " ")
    base = docs.select(toks.alias("toks"))
    tok = base.select(F.explode("toks").alias("w"))
    uni = tok.groupBy("w").agg(F.count("*").alias("c"))
    tot = tok.agg(F.count("*").alias("T"))
    bgl = base.filter(F.size("toks") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat(
                    F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
                ),
            )
        ).alias("bg")
    )
    bgc = (
        bgl.groupBy("bg").agg(F.count("*").alias("c12")).filter(F.col("c12") >= 5)
    )
    digits = lambda col: F.length(col.cast("string"))  # noqa: E731
    u1 = uni.select(F.col("w").alias("_w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("_w2"), F.col("c").alias("c2"))
    scored = (
        bgc.withColumn("_w1", F.split("bg", " ").getItem(0))
        .withColumn("_w2", F.split("bg", " ").getItem(1))
        .join(u1, "_w1")
        .join(u2, "_w2")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("bg").alias("bigram"),
            "c12",
            (
                digits(F.col("c12"))
                + digits(F.col("T"))
                - digits(F.col("c1"))
                - digits(F.col("c2"))
            ).cast("bigint").alias("pmi_digits"),
        )
    )
    return scored.orderBy(F.desc("pmi_digits"), F.desc("c12"), "bigram").limit(20)


@register(
    "source_quality_calibration",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    hx AS (SELECT doc_id, md5(tok) AS h FROM tok),
    w AS (
        SELECT doc_id,
               (((CASE WHEN ascii(substr(h, 1, 1)) >= 97
                       THEN ascii(substr(h, 1, 1)) - 87
                       ELSE ascii(substr(h, 1, 1)) - 48 END) * 4096
                + (CASE WHEN ascii(substr(h, 2, 1)) >= 97
                        THEN ascii(substr(h, 2, 1)) - 87
                        ELSE ascii(substr(h, 2, 1)) - 48 END) * 256
                + (CASE WHEN ascii(substr(h, 3, 1)) >= 97
                        THEN ascii(substr(h, 3, 1)) - 87
                        ELSE ascii(substr(h, 3, 1)) - 48 END) * 16
                + (CASE WHEN ascii(substr(h, 4, 1)) >= 97
                        THEN ascii(substr(h, 4, 1)) - 87
                        ELSE ascii(substr(h, 4, 1)) - 48 END)) % 2001) AS w
        FROM hx
    ),
    s AS (SELECT doc_id, SUM(w) // COUNT(*) AS score FROM w GROUP BY doc_id)
    SELECT d.source AS source, COUNT(*) AS n,
           ROUND(quantile_cont(s.score, 0.5), 4) AS p50,
           ROUND(quantile_cont(s.score, 0.9), 4) AS p90,
           CAST(COUNT(CASE WHEN s.score < 1000 THEN 1 END) AS BIGINT)
               AS n_below_floor
    FROM documents d JOIN s USING (doc_id)
    GROUP BY d.source ORDER BY d.source
    """,
)
def source_quality_calibration(spark, sf_dir):
    """Per-source calibration of the quality classifier: median and
    p90 score plus how many docs each source loses at the global
    keep-floor (1000 milli-units). The audit a curation pipeline runs
    before applying one threshold across heterogeneous sources — a
    source whose whole distribution sits below the floor needs its own
    cutoff, not deletion. Scores reduce per doc first; the percentile
    state is per (source, doc), never token-level."""
    docs = table(spark, sf_dir, "documents")
    scores = textstats.hashed_linear_score(docs).select("doc_id", "score_milli")
    j = docs.select("doc_id", "source").join(scores, "doc_id")
    return (
        j.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.round(F.expr("percentile(score_milli, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(score_milli, 0.9)"), 4).alias("p90"),
            F.sum((F.col("score_milli") < 1000).cast("long")).alias(
                "n_below_floor"
            ),
        )
        .orderBy("source")
    )


@register(
    "bpe_pair_counts",
    f"""
    WITH t AS (SELECT {_TOKS} AS toks FROM documents),
    w AS (
        SELECT tok AS w, COUNT(*) AS cnt
        FROM (SELECT unnest(toks) AS tok FROM t)
        WHERE length(tok) > 0 GROUP BY tok
    ),
    pairs AS (
        SELECT substr(w, CAST(i AS INT), 1) AS a,
               substr(w, CAST(i AS INT) + 1, 1) AS b, cnt
        FROM w, unnest(range(1, length(w))) t(i)
        WHERE length(w) >= 2
    )
    SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS pair_count
    FROM pairs GROUP BY a, b
    ORDER BY pair_count DESC, a, b LIMIT 10
    """,
)
def bpe_pair_counts(spark, sf_dir):
    """One BPE trainer round, exactly SQL-expressible (the kmeans_step
    pattern: the full iterative trainer is operators.textstats.bpe_train,
    cross-checked against a pure-Python reference in tests; the
    per-round pair-counting core is registered for the driver oracle):
    top-10 adjacent character pairs over the frequency-weighted word
    vocabulary — the argmax feed of the first merge."""
    docs = table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(textstats.tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    pair_structs = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.struct(
            F.col("w").substr(i, F.lit(1)).alias("a"),
            F.col("w").substr(i + 1, F.lit(1)).alias("b"),
        ),
    )
    return (
        words.filter(F.length("w") >= 2)
        .select("cnt", F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").cast("bigint").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "a", "b")
        .limit(10)
    )


@register(
    "classifier_calibration",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    hx AS (SELECT doc_id, md5(tok) AS h FROM tok),
    w AS (
        SELECT doc_id,
               (((CASE WHEN ascii(substr(h, 1, 1)) >= 97
                       THEN ascii(substr(h, 1, 1)) - 87
                       ELSE ascii(substr(h, 1, 1)) - 48 END) * 4096
                + (CASE WHEN ascii(substr(h, 2, 1)) >= 97
                        THEN ascii(substr(h, 2, 1)) - 87
                        ELSE ascii(substr(h, 2, 1)) - 48 END) * 256
                + (CASE WHEN ascii(substr(h, 3, 1)) >= 97
                        THEN ascii(substr(h, 3, 1)) - 87
                        ELSE ascii(substr(h, 3, 1)) - 48 END) * 16
                + (CASE WHEN ascii(substr(h, 4, 1)) >= 97
                        THEN ascii(substr(h, 4, 1)) - 87
                        ELSE ascii(substr(h, 4, 1)) - 48 END)) % 2001) AS w
        FROM hx
    ),
    s AS (SELECT doc_id, SUM(w) // COUNT(*) AS score FROM w GROUP BY doc_id),
    lab AS (
        SELECT d.doc_id, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y, s.score
        FROM documents d JOIN s USING (doc_id)
    ),
    b AS (
        SELECT y, score,
               NTILE(10) OVER (ORDER BY score, doc_id) AS bucket
        FROM lab
    )
    SELECT bucket, COUNT(*) AS n,
           CAST(MIN(score) AS BIGINT) AS score_lo,
           CAST(MAX(score) AS BIGINT) AS score_hi,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(y) * 10000 // COUNT(*) AS BIGINT) AS pos_rate_bp
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def classifier_calibration(spark, sf_dir):
    """Calibration curve (reliability table) for the quality
    classifier against the 'is English' label: score deciles (NTILE
    with (score, doc_id) tie-break — deterministic bucket edges) ×
    observed positive rate. The companion to `classifier_auc`: AUC
    says the ranking works, this says WHERE the score is trustworthy.
    One shuffle to score, one NTILE sort over (score, id) pairs."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    scores = textstats.hashed_linear_score(docs).select("doc_id", "score_milli")
    # NULL lang = "not English" (oracle CASE ELSE 0), never a NULL label
    lab = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("y"),
    ).join(scores, "doc_id")
    b = lab.withColumn(
        "bucket", F.ntile(10).over(Window.orderBy("score_milli", "doc_id"))
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("score_milli").cast("bigint").alias("score_lo"),
            F.max("score_milli").cast("bigint").alias("score_hi"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.expr("sum(y) * 10000 DIV count(*)").alias("pos_rate_bp"),
        )
        .orderBy("bucket")
    )


@register(
    "keyword_search_topk",
    f"""
    WITH d AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS n_tokens FROM d),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               SUM(n_tokens) * 1000 // COUNT(*) AS avgdl_milli
        FROM dl
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS term FROM d)
        WHERE term IN ('spark', 'merge', 'window')
        GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ((s.n_docs - df.df) * 1000000 // df.df)
                   * (tf.tf * 1000)
                   // (tf.tf * 1000
                       + (1200 * (250 + (750 * (dl.n_tokens * 1000000
                                               // s.avgdl_milli)) // 1000))
                         // 1000) AS contrib
        FROM tf
        JOIN df USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
           CAST(SUM(contrib) AS BIGINT) AS score_scaled
    FROM scored
    GROUP BY doc_id
    ORDER BY score_scaled DESC, doc_id
    LIMIT 10
    """,
)
def keyword_search_topk(spark, sf_dir):
    """Full-text relevance search: BM25-shaped scoring (k1=1.2,
    b=0.75) of a fixed keyword query over the corpus, top-10 docs.
    The idf is the rational Robertson core ((N−df)/df, integer-scaled)
    rather than its log — a monotone transform per term, chosen so the
    whole score is exact integer arithmetic in both engines (the
    repo-wide DIV convention; a float log differs in ulps across
    libms).

    Shape at scale: tokenize → explode → per-(doc, term) counts (one
    shuffle on doc_id×term, map-side combinable after the term filter
    prunes the explode); df and corpus stats are tiny frames broadcast
    back; scoring is row-local; top-10 is TakeOrderedAndProject, never
    a global sort. This is the inverted-index probe shape — at real
    scale the tf frame IS the posting list, bucketed by term.
    Scoring lives in operators.textstats.bm25_scores (shared with the
    hybrid RRF fusion query)."""
    docs = table(spark, sf_dir, "documents")
    return (
        textstats.bm25_scores(docs, ["spark", "merge", "window"])
        .orderBy(F.desc("score_scaled"), "doc_id")
        .limit(10)
    )


_BPE_FIXED_MERGES = [("s", "p"), ("sp", "a"), ("spa", "r"), ("spar", "k")]


def _bpe_fixed_oracle() -> str:
    """Greedy BPE merge application is SQL-expressible for THIS merge
    table via sequential replace() over a delimiter-joined symbol
    string: full delimiters ('\\x01a\\x01b\\x01' -> '\\x01ab\\x01')
    match only complete symbols, and none of these pairs can occur
    back-to-back inside one word (would need a 'spsp'-like substring),
    which is the single case where non-rescanning replace() diverges
    from the greedy fold."""
    s = "regexp_replace(w, '(.)', chr(1) || '\\1', 'g') || chr(1)"
    for a, b in _BPE_FIXED_MERGES:
        s = (
            f"replace({s}, chr(1) || '{a}' || chr(1) || '{b}' || chr(1),"
            f" chr(1) || '{a}{b}' || chr(1))"
        )
    return f"""
    WITH w AS (
        SELECT doc_id, unnest({_TOKS}) AS w FROM documents WHERE doc_id < 200
    ),
    e AS (
        SELECT doc_id, w,
               length({s}) - length(replace({s}, chr(1), '')) - 1 AS n_sym
        FROM w WHERE length(w) > 0
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
    FROM e GROUP BY doc_id ORDER BY doc_id
    """


@register("bpe_encode_fixed", _bpe_fixed_oracle())
def bpe_encode_fixed(spark, sf_dir):
    """Tokenizer SERVING: apply a fixed BPE merge table (the static
    artifact a trained tokenizer ships as — here the 4-merge chain
    building 'spark') to the corpus and report per-doc word and BPE
    token counts. The engine replays merges over the distinct-word
    vocabulary and broadcasts the encoded vocab back
    (operators.textstats.bpe_encode — cost ∝ vocab × merges, not
    corpus × merges); the oracle applies the same greedy merges via
    delimiter-string replace (see _bpe_fixed_oracle for why that is
    exact for this table). Completes the driver-attested tokenizer
    lifecycle: bpe_pair_counts (training round) → this (encode) →
    sequence_packing / training_batch_manifest (consumption)."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return (
        textstats.bpe_encode(docs, _BPE_FIXED_MERGES)
        .orderBy("doc_id")
    )


@register(
    "phrase_search",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    m AS (
        SELECT doc_id,
               len(list_filter(range(1, len(toks)),
                               i -> toks[i] = 'fast'
                                AND toks[i + 1] = 'table')) AS n_occur
        FROM t WHERE len(toks) >= 2
    )
    SELECT doc_id, CAST(n_occur AS BIGINT) AS n_occur
    FROM m WHERE n_occur > 0 ORDER BY doc_id
    """,
)
def phrase_search(spark, sf_dir):
    """Positional phrase search: documents containing the exact token
    sequence "fast table", with per-doc occurrence counts — matching
    CONSECUTIVE positions, which bag-of-words tf (keyword_search_topk)
    cannot express. Row-local positional scan over the token array:
    zero shuffle, zero join; the plan is scan → project → filter. At
    index-serving scale the same match runs as a self-join of a
    persisted POSITIONAL posting list ((term, doc, pos) on pos+1 —
    the tf frame of the keyword query extended with positions); the
    row-local form is the right plan when scanning the corpus
    anyway."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(textstats.normalize_text(F.col("text")), " ")
    # Bind the tokenization as a lambda variable (1-element transform)
    # so it evaluates ONCE per row: a plain projection column gets
    # re-inlined into the positional lambda by CollapseProject and the
    # split re-runs per array element (NOTES invariant #9).
    hits = F.element_at(
        F.transform(
            F.array(toks),
            lambda t: F.when(
                F.size(t) >= 2,
                F.size(
                    F.filter(
                        F.sequence(F.lit(1), F.size(t) - 1),
                        lambda i: (F.element_at(t, i) == "fast")
                        & (F.element_at(t, i + 1) == "table"),
                    )
                ),
            ).otherwise(F.lit(0)),
        ),
        1,
    )
    return (
        docs.select("doc_id", hits.cast("bigint").alias("n_occur"))
        .filter(F.col("n_occur") > 0)
        .orderBy("doc_id")
    )


@register(
    "mlm_masked_docs",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    m AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               list_transform(range(1, len(toks) + 1),
                   i -> CASE WHEN CAST(('0x' || substr(md5(
                                 CAST(doc_id AS VARCHAR) || ':'
                                 || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
                             % 100 < 15
                        THEN '<mask>' ELSE toks[CAST(i AS INT)] END) AS masked
        FROM t
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(len(list_filter(masked, s -> s = '<mask>')) AS BIGINT)
               AS n_masked,
           md5(array_to_string(masked, ' ')) AS masked_md5
    FROM m ORDER BY doc_id
    """,
)
def mlm_masked_docs(spark, sf_dir):
    """Deterministic MLM-style masking augmentation: position i of doc
    d is masked iff md5(d:i) lands under 15% — the content-keyed coin
    a reproducible training pipeline flips instead of an RNG, so every
    rerun (and every engine) produces the byte-identical masked corpus.
    Entirely row-local (one transform over the token array, zero
    shuffle); the masked text is attested by checksum so the full
    string — not just the counts — is value-checked."""
    docs = table(spark, sf_dir, "documents")
    toks = "split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' ')"
    masked = (
        "transform(sequence(1, size(toks)), i -> "
        "if(cast(conv(substring(md5(concat(cast(doc_id as string), ':', "
        "cast(i as string))), 1, 8), 16, 10) as bigint) % 100 < 15, "
        "'<mask>', element_at(toks, i)))"
    )
    return (
        docs.selectExpr("doc_id", f"{toks} AS toks")
        .selectExpr("doc_id", "size(toks) AS n_tokens", f"{masked} AS masked")
        .selectExpr(
            "doc_id",
            "cast(n_tokens as bigint) AS n_tokens",
            "cast(size(filter(masked, s -> s = '<mask>')) as bigint) AS n_masked",
            "md5(array_join(masked, ' ')) AS masked_md5",
        )
        .orderBy("doc_id")
    )


@register(
    "source_token_l1_drift",
    f"""
    WITH t AS (SELECT source, unnest({_TOKS}) AS tok FROM documents),
    cnt AS (SELECT source, tok, COUNT(*) AS n FROM t GROUP BY source, tok),
    tot AS (SELECT source, SUM(n) AS total FROM cnt GROUP BY source),
    ppm AS (
        SELECT cnt.source, tok, CAST(n * 1000000 // total AS BIGINT) AS ppm
        FROM cnt JOIN tot ON cnt.source = tot.source
    ),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               SUM(ABS(a.ppm - b.ppm)) AS l1_shared,
               SUM(a.ppm) AS pa_shared, SUM(b.ppm) AS pb_shared,
               COUNT(*) AS n_shared
        FROM ppm a JOIN ppm b ON a.tok = b.tok AND a.source < b.source
        GROUP BY a.source, b.source
    ),
    mass AS (SELECT source, SUM(ppm) AS mass, COUNT(*) AS n_toks
             FROM ppm GROUP BY source)
    SELECT source_a, source_b,
           CAST(l1_shared + (ma.mass - pa_shared) + (mb.mass - pb_shared)
                AS BIGINT) AS l1_ppm,
           CAST(ma.n_toks + mb.n_toks - n_shared AS BIGINT)
               AS n_tokens_compared
    FROM shared
    JOIN mass ma ON ma.source = source_a
    JOIN mass mb ON mb.source = source_b
    ORDER BY source_a, source_b
    """,
)
def source_token_l1_drift(spark, sf_dir):
    """Distribution-drift monitor between corpus sources: each source's
    token distribution in integer parts-per-million, then the pairwise
    L1 distance — the mixture-shift signal a training pipeline tracks
    when a feed changes under it (0 = identical unigram mix, 2e6 =
    disjoint). Token counts reduce map-side before anything joins; the
    pair comparison is an inner join on token over the reduced
    per-source frames (a token absent from a source contributes its
    other side's ppm exactly once, added back via the marginal totals —
    no full-outer blowup). All-integer floor arithmetic.
    """
    docs = table(spark, sf_dir, "documents")
    from udacity_data_wrangling_osm_case_study_spark.operators.textstats import tokens

    t = docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    cnt = t.groupBy("source", "tok").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("source").agg(F.sum("n").alias("total"))
    ppm = cnt.join(tot, "source").select(
        "source", "tok", F.expr("n * 1000000 div total").alias("ppm")
    )
    a = ppm.select(
        F.col("source").alias("source_a"), "tok", F.col("ppm").alias("pa")
    )
    b = ppm.select(
        F.col("source").alias("source_b"), "tok", F.col("ppm").alias("pb")
    )
    pairs = a.join(b, "tok").filter(F.col("source_a") < F.col("source_b"))
    # L1 = Σ_shared |pa−pb| + Σ_a-only pa + Σ_b-only pb. The one-sided
    # masses are recovered from marginals: Σ_only pa = total_ppm_a −
    # Σ_shared pa — so only the SHARED-token join ever materializes.
    shared = pairs.groupBy("source_a", "source_b").agg(
        F.sum(F.abs(F.col("pa") - F.col("pb"))).alias("l1_shared"),
        F.sum("pa").alias("pa_shared"),
        F.sum("pb").alias("pb_shared"),
        F.count("*").alias("n_shared"),
    )
    mass = ppm.groupBy("source").agg(
        F.sum("ppm").alias("mass"), F.count("*").alias("n_toks")
    )
    return (
        shared.join(
            F.broadcast(
                mass.select(
                    F.col("source").alias("source_a"),
                    F.col("mass").alias("mass_a"),
                    F.col("n_toks").alias("nt_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                mass.select(
                    F.col("source").alias("source_b"),
                    F.col("mass").alias("mass_b"),
                    F.col("n_toks").alias("nt_b"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            (
                F.col("l1_shared")
                + (F.col("mass_a") - F.col("pa_shared"))
                + (F.col("mass_b") - F.col("pb_shared"))
            )
            .cast("long")
            .alias("l1_ppm"),
            (F.col("nt_a") + F.col("nt_b") - F.col("n_shared"))
            .cast("long")
            .alias("n_tokens_compared"),
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "source_distinctive_terms",
    f"""
    WITH t AS (SELECT source, unnest({_TOKS}) AS tok FROM documents),
    cnt AS (SELECT source, tok, COUNT(*) AS c FROM t GROUP BY source, tok),
    tots AS (SELECT source, SUM(c) AS tot FROM cnt GROUP BY source),
    g AS (SELECT tok, SUM(c) AS cg FROM cnt GROUP BY tok),
    gt AS (SELECT SUM(cg) AS totg FROM g),
    lift AS (
        SELECT cnt.source, cnt.tok, cnt.c,
               CAST(cnt.c * (SELECT totg FROM gt) * 10000
                    // (tots.tot * g.cg) AS BIGINT) AS lift_bp
        FROM cnt JOIN tots ON cnt.source = tots.source
                 JOIN g ON cnt.tok = g.tok
        WHERE cnt.c >= 5
    ),
    ranked AS (
        SELECT source, tok, c, lift_bp,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY lift_bp DESC, tok) AS rn
        FROM lift
    )
    SELECT source, tok, CAST(c AS BIGINT) AS c, lift_bp
    FROM ranked WHERE rn <= 5 ORDER BY source, lift_bp DESC, tok
    """,
)
def source_distinctive_terms(spark, sf_dir):
    """Class-discriminative vocabulary (the c-TF-IDF / BERTopic idea):
    per source, the 5 terms whose in-source probability most exceeds
    their corpus-wide probability — lift cross-multiplied to integer
    basis points (c_s·N_g·10⁴ div (N_s·c_g)), min-support 5, full tie
    breaks. Token counts reduce map-side; the per-source and global
    marginals are tiny broadcast frames; top-5 is one window over the
    qualified terms. What you read to understand WHAT each corpus
    source actually contains before mixing it."""
    from pyspark.sql import Window

    from udacity_data_wrangling_osm_case_study_spark.operators.textstats import tokens

    docs = table(spark, sf_dir, "documents")
    t = docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    cnt = t.groupBy("source", "tok").agg(F.count("*").alias("c"))
    tots = cnt.groupBy("source").agg(F.sum("c").alias("tot"))
    g = cnt.groupBy("tok").agg(F.sum("c").alias("cg"))
    gt = g.agg(F.sum("cg").alias("totg"))
    lift = (
        cnt.filter(F.col("c") >= 5)
        .join(F.broadcast(tots), "source")
        .join(g, "tok")
        .crossJoin(F.broadcast(gt))
        .select(
            "source",
            "tok",
            "c",
            F.expr("c * totg * 10000 div (tot * cg)").alias("lift_bp"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("lift_bp"), "tok")
    return (
        lift.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "tok", F.col("c").cast("long").alias("c"), "lift_bp")
        .orderBy("source", F.desc("lift_bp"), "tok")
    )


@register(
    "annotator_agreement_kappa",
    f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    lab AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 40 THEN 1 ELSE 0 END AS a,
               CASE WHEN len(list_distinct(toks)) * 2 >= len(toks)
                    THEN 1 ELSE 0 END AS b
        FROM t
    ),
    cm AS (
        SELECT COUNT(*) AS n,
               COUNT(*) FILTER (WHERE a = 1 AND b = 1) AS n11,
               COUNT(*) FILTER (WHERE a = 1 AND b = 0) AS n10,
               COUNT(*) FILTER (WHERE a = 0 AND b = 1) AS n01,
               COUNT(*) FILTER (WHERE a = 0 AND b = 0) AS n00
        FROM lab
    )
    SELECT CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
           CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
           CAST((n11 + n00) * n
                - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                AS BIGINT) AS kappa_num,
           CAST(n * n
                - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                AS BIGINT) AS kappa_den
    FROM cm
    """,
)
def annotator_agreement_kappa(spark, sf_dir):
    """Inter-annotator agreement (Cohen's kappa) between two
    deterministic quality annotators — a length rule and a
    type-token-ratio rule — the chance-corrected agreement a curation
    pipeline reports before trusting labeling heuristics. With integer
    confusion counts, kappa = (po − pe)/(1 − pe) clears to the exact
    rational ((n_agree·N − Σ marginal products) / (N² − Σ marginal
    products)) — no float probabilities. One row-local labeling pass,
    one count aggregation."""
    docs = table(spark, sf_dir, "documents")
    from udacity_data_wrangling_osm_case_study_spark.operators.textstats import tokens

    lab = docs.select(tokens(F.col("text")).alias("toks")).select(
        F.when(F.size("toks") >= 40, 1).otherwise(0).alias("a"),
        F.when(
            F.size(F.array_distinct("toks")) * 2 >= F.size("toks"), 1
        ).otherwise(0).alias("b"),
    )
    cm = lab.agg(
        F.count("*").alias("n"),
        F.count_if((F.col("a") == 1) & (F.col("b") == 1)).alias("n11"),
        F.count_if((F.col("a") == 1) & (F.col("b") == 0)).alias("n10"),
        F.count_if((F.col("a") == 0) & (F.col("b") == 1)).alias("n01"),
        F.count_if((F.col("a") == 0) & (F.col("b") == 0)).alias("n00"),
    )
    pe_scaled = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ) * (F.col("n10") + F.col("n00"))
    return cm.select(
        F.col("n11").cast("long").alias("n11"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n01").cast("long").alias("n01"),
        F.col("n00").cast("long").alias("n00"),
        ((F.col("n11") + F.col("n00")) * F.col("n") - pe_scaled)
        .cast("long")
        .alias("kappa_num"),
        (F.col("n") * F.col("n") - pe_scaled).cast("long").alias("kappa_den"),
    )


@register(
    "rake_keyphrases",
    f"""
    WITH d AS (SELECT doc_id AS id, {_TOKS} AS toks FROM documents),
    pos AS (
        SELECT id, CAST(generate_subscripts(toks, 1) AS BIGINT) AS pos,
               unnest(toks) AS tok
        FROM d
    ),
    content AS (
        SELECT id, pos, tok,
               pos - ROW_NUMBER() OVER (PARTITION BY id ORDER BY pos) AS grp
        FROM pos
        WHERE tok NOT IN ('the', 'a', 'of', 'and', 'to', 'in') AND tok <> ''
    ),
    phrase_len AS (
        SELECT id, grp, COUNT(*) AS plen FROM content GROUP BY id, grp
    ),
    word_stats AS (
        SELECT tok,
               COUNT(*) AS freq,
               SUM(plen) AS deg
        FROM content JOIN phrase_len USING (id, grp)
        GROUP BY tok
    ),
    word_score AS (
        SELECT tok, deg * 1000 // freq AS w_milli FROM word_stats
    ),
    phrase_scored AS (
        SELECT c.id, c.grp,
               string_agg(c.tok, ' ' ORDER BY c.pos) AS phrase,
               SUM(w.w_milli) AS score_milli
        FROM content c JOIN word_score w USING (tok)
        GROUP BY c.id, c.grp
    )
    SELECT phrase,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MAX(score_milli) AS BIGINT) AS score_milli
    FROM phrase_scored
    WHERE len(string_split(phrase, ' ')) >= 2
    GROUP BY phrase
    ORDER BY score_milli DESC, phrase
    LIMIT 20
    """,
)
def rake_keyphrases(spark, sf_dir):
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are the maximal stopword-free token runs — found with the
    gaps-and-islands rewrite (pos − row_number over content tokens is
    constant within a run, so phrase assembly is one window + one
    groupBy, no self-join) — and each phrase scores Σ deg(w)/freq(w)
    over its words, where deg counts co-occurring phrase words
    corpus-wide. Integer milli floor per word keeps the score exact in
    both engines; identical phrases collapse with occurrence counts
    (their scores are equal by construction — word stats are global).
    Top-20 multi-word phrases. Everything is explode + two windows +
    three groupBys: scan-shaped at any corpus size."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = F.split(textstats.normalize_text(F.col("text")), " ")
    pos = docs.select(
        F.col("doc_id").alias("id"), F.posexplode(toks).alias("pos0", "tok")
    ).select("id", (F.col("pos0") + 1).alias("pos"), "tok")
    content = (
        pos.filter(
            ~F.col("tok").isin(textstats.STOPWORDS) & (F.col("tok") != "")
        )
        .withColumn(
            "grp",
            F.col("pos")
            - F.row_number().over(Window.partitionBy("id").orderBy("pos")),
        )
    )
    phrase_len = content.groupBy("id", "grp").agg(F.count("*").alias("plen"))
    word_stats = (
        content.join(phrase_len, ["id", "grp"])
        .groupBy("tok")
        .agg(F.count("*").alias("freq"), F.sum("plen").alias("deg"))
    )
    word_score = word_stats.select(
        "tok", F.expr("deg * 1000 div freq").alias("w_milli")
    )
    phrase_scored = (
        content.join(F.broadcast(word_score), "tok")
        .groupBy("id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.sum("w_milli").alias("score_milli"),
        )
    )
    return (
        phrase_scored.filter(F.size(F.split(F.col("phrase"), " ")) >= 2)
        .groupBy("phrase")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.max("score_milli").cast("long").alias("score_milli"),
        )
        .orderBy(F.desc("score_milli"), "phrase")
        .limit(20)
    )
