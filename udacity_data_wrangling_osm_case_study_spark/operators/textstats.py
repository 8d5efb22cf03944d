"""Text analysis operators: language ID, quality scoring, token
counting, fingerprinting, character census.

All pure column expressions over the ``documents`` table shape
(doc_id, text, lang, source, n_chars) — codegen end to end, so these
run at scan speed over a 100 TB corpus. Ratios are computed with a
single division (identical IEEE result across engines) and rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators.iterative import snap_eager

from udacity_data_wrangling_osm_case_study_spark.operators.dedup import (
    content_fingerprint,
    normalize_text,
)

STOPWORDS = ["the", "a", "of", "and", "to", "in"]

# Marker words → language guess, checked in order (n-gram heuristic
# surrogate; a production system would use char-trigram profiles).
LANG_MARKERS = [("the", "en"), ("der", "de"), ("le", "fr"), ("el", "es")]


def tokens(col):
    return F.split(normalize_text(col), " ")


def lang_id(col):
    """First matching marker word wins; 'und' when none present."""
    expr = None
    for word, lang in LANG_MARKERS:
        cond = F.array_contains(tokens(col), word)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return expr.otherwise(F.lit("und"))


def doc_profile(df: DataFrame) -> DataFrame:
    """Per-doc analysis frame: tokens, stopword ratio, lang guess,
    quality score, content fingerprint.

    The ratio metrics are integer-scaled (basis points / per-mille) via
    integer division: ratios of small integers land exactly on decimal
    rounding boundaries, where engines' float-round rules diverge —
    integer arithmetic is bit-identical everywhere.

    quality = stop_ratio/2 + (1 - |avg_token_len - 5|/10)/2, expressed
    over the common denominator 20*n_tokens:
    (10*n_stop + 10*n_tokens - |total_len - 5*n_tokens|) / (20*n_tokens).
    """
    t = F.col("text")
    toks = tokens(t)
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda w: w.isin(STOPWORDS)))
    total_len = F.aggregate(toks, F.lit(0), lambda acc, w: acc + F.length(w))
    quality_num = (
        F.lit(10) * n_stop + F.lit(10) * n_tok - F.abs(total_len - F.lit(5) * n_tok)
    )
    return df.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        (n_stop * 10000).cast("long").alias("_stop_num"),
        total_len.alias("_total_len"),
        quality_num.alias("_q_num"),
        lang_id(t).alias("lang_guess"),
        content_fingerprint(t).alias("fingerprint"),
    ).select(
        "doc_id",
        "n_tokens",
        F.expr("_stop_num DIV n_tokens").alias("stop_ratio_bp"),
        F.expr("(_total_len * 100) DIV n_tokens").alias("avg_token_len_c"),
        F.expr("(_q_num * 1000) DIV (20 * n_tokens)").alias("quality_pm"),
        "lang_guess",
        "fingerprint",
    )


def hashed_linear_score(df: DataFrame) -> DataFrame:
    """Feature-hashed linear classifier over the token bag — the
    fastText / Vowpal-Wabbit shape for model-based quality filtering,
    expressed entirely in codegen column arithmetic.

    Each token hashes straight to a weight bucket (first 4 hex digits
    of md5 → 0..65535, folded mod 2001 into 0..2000 milli-units, i.e.
    [-1, +1] shifted by +1000) — feature hashing means NO vocabulary
    table ships with the job; a trained model replaces the identity
    bucket→weight map with its learned vector, same plan shape. The
    document score is the mean token weight (integer division — exact
    in every engine); thresholding the mean is equivalent to
    thresholding the monotone sigmoid of a linear model.

    Row-local: token array → per-token weight via ``transform`` → one
    integer fold. Zero shuffle, scan-speed at 100 TB.
    """
    # No text, no score: a NULL-text doc has no token bag to hash
    # (the oracle's token unnest drops it for the same reason).
    base = df.filter(F.col("text").isNotNull()).select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    weights = F.transform(
        F.col("toks"),
        lambda w: F.conv(F.substring(F.md5(w), 1, 4), 16, 10).cast("long")
        % 2001,
    )
    return base.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.aggregate(weights, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "_sum_w"
        ),
    ).select(
        "doc_id",
        "n_tokens",
        F.expr("_sum_w DIV n_tokens").alias("score_milli"),
        (F.expr("_sum_w DIV n_tokens") >= 1000).alias("keep"),
    )


def char_census(df: DataFrame) -> DataFrame:
    """Distinct characters with the first doc they appear in (A3 analog:
    the phone-audit character census, order-preserved via min id)."""
    chars = df.select(
        F.col("doc_id").alias("id"),
        F.explode(F.regexp_extract_all(F.col("text"), F.lit("."), 0)).alias("ch"),
    )
    return chars.groupBy("ch").agg(F.min("id").alias("first_doc"))


def scrub_terms(df: DataFrame, terms: list[str]) -> DataFrame:
    """Denylist-term scrubbing: replace every whole-word occurrence of
    ``terms`` in the normalized text with a redaction token, reporting
    per-doc match counts and the scrubbed-content fingerprint.

    This is the redaction plumbing of a PII-scrub stage (emails /
    phone numbers / names swap in via their own patterns — the
    synthetic corpus carries none, so the demo denylist is drawn from
    the corpus vocabulary). One regexp pass per doc, pure codegen —
    scales at scan speed; the word-boundary pattern behaves identically
    in Java regex and RE2.
    """
    pattern = r"\b(" + "|".join(terms) + r")\b"
    norm = normalize_text(F.col("text"))
    scrubbed = F.regexp_replace(norm, pattern, "<SCRUB>")
    return df.select(
        "doc_id",
        F.regexp_count(norm, F.lit(pattern)).alias("n_scrubbed"),
        F.length(scrubbed).alias("scrubbed_chars"),
        F.md5(scrubbed).alias("scrubbed_fp"),
    )


def repetition_profile(df: DataFrame) -> DataFrame:
    """Intra-document repetition signals (the Gopher-style quality
    filters): most-frequent-token share and duplicate-bigram share,
    both in basis points.

    Entirely row-local array expressions — zero shuffle, so the filter
    runs at scan speed over any corpus size. The top-token count is a
    run-length fold over the SORTED token array — O(n log n) per doc
    and one pass, where the naive distinct×filter nested loop is
    O(distinct × n) with interpreted higher-order calls (measured 2.6×
    slower at sf0.1).
    """
    df = df.filter(F.col("text").isNotNull())  # no text, no profile
    toks = tokens(F.col("text"))
    n = F.size(toks)
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("cur"), F.lit(0).alias("best")
    )

    def _step(acc, x):
        cur = F.when(x == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), cur.alias("cur"), F.greatest(acc["best"], cur).alias("best")
        )

    top_cnt = F.aggregate(F.array_sort(toks), init, _step, lambda acc: acc["best"])
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return df.select(
        "doc_id",
        n.alias("_n"),
        (top_cnt * 10000).cast("long").alias("_top_num"),
        F.size(bigrams).alias("_nbg"),
        ((F.size(bigrams) - F.size(F.array_distinct(bigrams))) * 10000)
        .cast("long")
        .alias("_dup_num"),
    ).select(
        "doc_id",
        F.expr("_top_num DIV _n").alias("top_token_bp"),
        F.expr("_dup_num DIV greatest(_nbg, 1)").alias("dup_bigram_bp"),
    )


def unigram_surprisal(df: DataFrame) -> DataFrame:
    """Corpus-unigram surprisal scoring (CCNet-style LM quality signal).

    CCNet/Dolma score documents with a language-model perplexity and
    filter or bin on it; the engine-portable analog is unigram
    surprisal against the corpus itself: a token occurring ``c`` times
    in a ``T``-token corpus carries surprisal ``-log10(c/T)``, and a
    document's score is the token-weighted mean. Low scores = common/
    templated text, high scores = rare-token-heavy text — the same
    axis perplexity filters cut on.

    Logs are taken on the *digit-count* scale — ``digits(T) -
    digits(c)`` (an integer within ±1 of ``-log10(c/T)``) — so every
    value is an exact integer in any engine: no libm, no float
    summation order, bit-identical across Spark and the oracle.

    Output per doc: ``n_tokens``, ``mean_surprisal_centi`` (mean
    surprisal x100, floor), ``rare_bp`` (basis points of tokens with
    document frequency under 1% of the corpus).

    Scale shape: per-doc token counts first (one shuffle, map-side
    combinable, output bounded by doc-distinct vocab), vocabulary
    rollup from those counts (second tiny shuffle), then a join on the
    token — at web scale the vocab frame is millions of rows, so it
    stays a plain shuffle join (AQE broadcasts it when small). The
    corpus total is a one-row broadcast. No token-level fact ever
    joins a token-level fact.
    """
    tok = df.select(
        F.col("doc_id").alias("id"), F.explode(tokens(F.col("text"))).alias("tok")
    )
    doc_tok = tok.groupBy("id", "tok").agg(F.count("*").alias("k"))
    vocab = doc_tok.groupBy("tok").agg(F.sum("k").alias("c"))
    total = vocab.agg(F.sum("c").alias("T"))
    digits = lambda col: F.length(col.cast("string"))
    scored = (
        doc_tok.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .withColumn("s", digits(F.col("T")) - digits(F.col("c")))
        .withColumn("rare", (F.col("c") * 100 < F.col("T")).cast("long"))
    )
    return (
        scored.groupBy("id")
        .agg(
            F.sum("k").alias("n_tokens"),
            F.expr("sum(k * s) * 100 DIV sum(k)").alias("mean_surprisal_centi"),
            F.expr("sum(k * rare) * 10000 DIV sum(k)").alias("rare_bp"),
        )
        .withColumnRenamed("id", "doc_id")
    )


def subword_vocab(df: DataFrame) -> DataFrame:
    """Subword vocabulary induction: the top 50 character 2- to 4-grams
    by corpus frequency — the candidate-mining pass a BPE/WordPiece
    trainer starts from (frequency-ranked substrings of the weighted
    word vocabulary).

    Scale shape: the corpus collapses to the *distinct-word* vocabulary
    first (one map-side-combinable shuffle; vocab « corpus at web
    scale), substring generation then explodes each word into its 2- to
    4-grams over that vocab frame only, and the final top 50 is a
    count-desc orderBy+limit (TakeOrderedAndProject — never a full
    sort). Ties break on the gram string so the cut is deterministic.
    """
    words = (
        df.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    grams = F.flatten(
        F.transform(
            F.sequence(F.lit(2), F.lit(4)),
            # Guard: sequence(1, 0) is DESCENDING in Spark ([1, 0]) —
            # a word shorter than l must yield an empty start list.
            lambda l: F.when(
                F.length("tok") >= l,
                F.transform(
                    F.sequence(F.lit(1), F.length("tok") - l + 1),
                    lambda s: F.col("tok").substr(s, l),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    )
    return (
        words.filter(F.length("tok") >= 2)
        .select(F.explode(grams).alias("gram"), "cnt")
        .groupBy("gram")
        .agg(F.sum("cnt").alias("total_count"))
        .orderBy(F.desc("total_count"), "gram")
        .limit(50)
    )


def bigram_surprisal(df: DataFrame) -> DataFrame:
    """Conditional bigram surprisal (the next step up from
    :func:`unigram_surprisal` toward the KenLM scoring CCNet uses):
    each bigram ``w1 w2`` carries ``-log10(c(w1 w2) / c(w1 ·))`` — how
    surprising the next word is given the previous one — and a
    document's score is the bigram-weighted mean. Templated/recycled
    text scores near zero; incoherent token soup scores high.

    Same digit-count log10 scale as the unigram scorer (``digits(p) -
    digits(c)``, exact integers in any engine). Docs with fewer than 2
    tokens carry no bigram and are excluded (both engines).

    Output per doc: ``n_bigrams``, ``mean_cond_surprisal_centi``
    (×100, floor), ``novel_bp`` (basis points of bigram occurrences
    whose corpus count is 1 — text seen nowhere else).

    Scale shape: per-doc bigram counts first (one map-side-combinable
    shuffle bounded by doc-distinct bigrams), corpus bigram rollup from
    those counts, prefix rollup from the bigram rollup (both tiny
    relative to the fact), then fact→vocab joins on the bigram and
    prefix keys — AQE broadcasts them when small, shuffle-joins
    otherwise. No token-level fact joins a token-level fact.
    """
    base = df.select(
        F.col("doc_id").alias("id"), tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 2)
    bg_list = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat(
            F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
        ),
    )
    bgl = base.select("id", F.explode(bg_list).alias("bg"))
    doc_bg = bgl.groupBy("id", "bg").agg(F.count("*").alias("k"))
    bgc = doc_bg.groupBy("bg").agg(F.sum("k").alias("c"))
    pre = bgc.select(
        F.split("bg", " ").getItem(0).alias("w1"), "c"
    ).groupBy("w1").agg(F.sum("c").alias("p"))
    digits = lambda col: F.length(col.cast("string"))  # noqa: E731
    scored = (
        doc_bg.join(bgc, "bg")
        .withColumn("w1", F.split("bg", " ").getItem(0))
        .join(pre, "w1")
        .withColumn("s", digits(F.col("p")) - digits(F.col("c")))
        .withColumn("novel", (F.col("c") == 1).cast("long"))
    )
    return (
        scored.groupBy("id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.expr("sum(k * s) * 100 DIV sum(k)").alias("mean_cond_surprisal_centi"),
            F.expr("sum(k * novel) * 10000 DIV sum(k)").alias("novel_bp"),
        )
        .withColumnRenamed("id", "doc_id")
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 10,
    merge_batch: int = 4,
):
    """Distributed BPE merge training (Sennrich et al. 2016) — the
    iterative half of subword tokenization (``subword_vocab`` is the
    frequency-mining half).

    Classic BPE over the frequency-weighted word vocabulary: words
    start as character sequences; each round counts adjacent symbol
    pairs (weighted by word count), merges the most frequent pair
    everywhere (greedy left-to-right within a word, ties broken
    lexicographically so the result is engine- and run-deterministic),
    and repeats for ``n_merges`` rounds or until no pair occurs at
    least twice.

    Scale shape: the corpus collapses to the distinct-word vocabulary
    up front (vocab « corpus at web scale) and every round after that
    touches only the vocab frame: one pair-explode + map-side-combined
    groupBy for the counts, ONE top-(k+1) collect to the driver
    (bounded metadata, the same posture as IVF probe-cell selection),
    and a row-local fold applying the round's merges. The symbol frame
    is ``localCheckpoint``ed per round — many rounds of nested array
    folds would otherwise stack into one enormous expression tree
    (same lineage-cut rule as ``similarity.train_quantizer``).

    ``merge_batch`` amortizes the driver round-trip: each round applies
    up to that many merges at once, chosen so the result is PROVABLY
    identical to the one-merge-per-round sequential algorithm. The
    batch is the maximal prefix of the (count desc, pair asc)-sorted
    pair list that is (a) pairwise symbol-disjoint — disjoint merges
    neither create, destroy, nor recount each other's occurrences, and
    a single greedy left fold applies them exactly as sequential
    passes would; disjointness covers each accepted pair's MERGED
    string too, so a later candidate whose symbol happens to equal an
    earlier acceptance's concatenation (string aliasing: (a,'bc')
    batched with ('abc',d)) is rejected rather than treated as
    independent — and (b) strictly above the first rejected pair's
    count: every pair a batch merge could spawn or recount derives
    from a pair sharing a symbol with an accepted one, and all of
    those rank at or below the rejection point, so no new or changed
    pair can overtake (or tie) a later batch member before its
    sequential turn. Self-pairs (a, a) merge only solo: merging one
    spawns (aa, a) pairs bounded by its OWN count rather than the
    rejected count, which breaks guarantee (b) for any batch-mate.
    A singleton batch is the sequential step itself, so the fallback
    is always exact.

    Returns ``(merges_df, symbols_df)``: the ordered merge table
    (step, left, right, merged, pair_count) and the final per-word
    symbol arrays.
    """
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    words = (
        df.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    sym = words.select("w", "cnt", chars.alias("syms")).transform(snap_eager)
    merges = []
    spark = df.sparkSession
    step = 0
    while step < n_merges:
        k = min(max(int(merge_batch), 1), n_merges - step)
        pair_structs = F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.struct(
                F.element_at("syms", i).alias("a"),
                F.element_at("syms", i + 1).alias("b"),
            ),
        )
        pairs = (
            sym.filter(F.size("syms") >= 2)
            .select("cnt", F.explode(pair_structs).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("c"))
        )
        # k+1 candidates: up to k acceptances plus the first rejected
        # pair's count (the batch-validity floor). TakeOrderedAndProject
        # — bounded driver metadata, one round-trip per BATCH.
        limit = k + 1
        cand = pairs.orderBy(F.desc("c"), "a", "b").limit(limit).collect()
        if not cand or cand[0].c < 2:
            break
        accepted: list = []
        used: set = set()
        stop_c = None  # count at the first rejected position
        for r in cand:
            # disjointness over inputs AND concatenation products, both
            # directions: a pair touching any earlier acceptance's input
            # or merged string — or whose own merged string aliases one —
            # ends the batch (conservative; sequential semantics exact).
            if (
                len(accepted) == k
                or r.a in used
                or r.b in used
                or (r.a + r.b) in used
            ):
                stop_c = r.c
                break
            if r.a == r.b:
                if accepted:  # self-pairs merge solo (see docstring)
                    stop_c = r.c
                    break
                accepted.append(r)
                stop_c = cand[1].c if len(cand) > 1 else None
                break
            accepted.append(r)
            used.add(r.a)
            used.add(r.b)
            # the merged output string is a live symbol after this
            # merge: block batch-mates that alias it (see docstring)
            used.add(r.a + r.b)
        if stop_c is None and len(cand) == limit:
            # list may be truncated: unseen pairs count <= the last
            # collected one — use it as the (conservative) floor.
            stop_c = cand[-1].c
        if len(accepted) > 1:
            floor = max(
                stop_c if stop_c is not None else 0, 1
            )
            kept = [r for r in accepted if r.c > floor]
            batch = kept if kept else [accepted[0]]
        else:
            batch = accepted
        plan = [(r.a, r.b, r.a + r.b, int(r.c)) for r in batch]
        for a, b, merged, c in plan:
            merges.append((step, a, b, merged, c))
            step += 1

        def make_fold(fold_plan):
            def fold(acc, s):
                out = F.concat(acc, F.array(s))
                for a, b, merged, _ in reversed(fold_plan):
                    out = F.when(
                        (F.size(acc) > 0)
                        & (F.element_at(acc, -1) == F.lit(a))
                        & (s == F.lit(b)),
                        F.concat(
                            F.slice(acc, 1, F.size(acc) - 1),
                            F.array(F.lit(merged)),
                        ),
                    ).otherwise(out)
                return out

            return fold

        apply_merges = F.aggregate(
            "syms", F.expr("CAST(array() AS array<string>)"), make_fold(plan)
        )
        sym = sym.select("w", "cnt", apply_merges.alias("syms")).transform(snap_eager)
    merges_df = spark.createDataFrame(
        merges, "step int, left string, right string, merged string, pair_count long"
    )
    return merges_df, sym


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Apply a trained BPE merge table to NEW text — the serving half
    of ``bpe_train`` (the tokenizer file is a static artifact; encoding
    replays its merges in order). Unseen words fall back to characters
    plus whatever merges apply, exactly like a real BPE tokenizer.

    Scale shape mirrors the trainer: the corpus collapses to its
    distinct-word vocabulary, each merge is the same greedy
    left-to-right row-local array fold (one ``localCheckpoint`` per
    merge keeps the expression tree flat), and the encoded vocabulary
    broadcasts back onto the corpus — encode cost is ∝ vocab × merges,
    not corpus × merges.

    Returns (doc_id, n_words, n_bpe_tokens).
    """
    words = (
        df.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") > 0)
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    vocab = words.select("w").distinct().select("w", chars.alias("syms"))
    vocab = vocab.transform(snap_eager)
    for a, b in merges:
        merged = a + b
        apply_merge = F.aggregate(
            "syms",
            F.expr("CAST(array() AS array<string>)"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (s == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        vocab = vocab.select("w", apply_merge.alias("syms")).transform(snap_eager)
    enc = vocab.select("w", F.size("syms").alias("n_sym"))
    return (
        words.join(F.broadcast(enc), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_sym").cast("bigint").alias("n_bpe_tokens"),
        )
    )


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
) -> DataFrame:
    """BM25-shaped relevance of every document against a fixed term
    set — (doc_id, n_terms_matched, score_scaled), unsorted. k1=1.2,
    b=0.75; the idf is the rational Robertson core ((N−df)/df,
    integer-scaled) rather than its log — a monotone transform per
    term, so ranking is preserved while the whole score stays exact
    integer arithmetic in both engines (a float log differs in ulps
    across libms).

    Shape at scale: tokenize → explode → per-(doc, term) counts (one
    shuffle on doc_id×term, map-side combinable after the term filter
    prunes the explode); df and corpus stats are tiny frames broadcast
    back; scoring is row-local. This is the inverted-index probe shape
    — at real scale the tf frame IS the posting list, bucketed by
    term. Callers order + truncate (TakeOrderedAndProject)."""
    from udacity_data_wrangling_osm_case_study_spark.operators import dedup

    toks = F.split(dedup.normalize_text(F.col("text")), " ")
    d = docs.select("doc_id", toks.alias("toks"))
    dl = d.select("doc_id", F.size("toks").alias("n_tokens"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        F.expr("sum(n_tokens) * 1000 div count(*)").alias("avgdl_milli"),
    )
    tf = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.expr(
                "((n_docs - df) * 1000000 div df)"
                " * (tf * 1000)"
                " div (tf * 1000"
                "      + (1200 * (250 + (750 * (n_tokens * 1000000"
                "                               div avgdl_milli)) div 1000))"
                "        div 1000)"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_terms_matched"),
        F.sum("contrib").cast("bigint").alias("score_scaled"),
    )
