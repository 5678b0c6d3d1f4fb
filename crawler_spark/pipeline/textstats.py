"""Text analysis: tokenization, quality scoring, language-ID, fingerprints.

All operators here are pure built-in Column expressions — they run entirely
inside whole-stage codegen (no Python, no Arrow transfer), so a 100 TB scan
is bounded by parquet read throughput, not UDF overhead. (One deliberate
exception: ``unicode_normalize``'s NFC step is an Arrow-batched pandas
UDF — Spark has no built-in Unicode normalizer; see its docstring.) Every expression
has an exact ANSI-SQL twin (used by ``__spark_entry__.oracle_sql``), which
is why the formulas avoid engine-specific hash functions in favour of md5.

The reference crawler has no text-analysis layer (it stops at rule
extraction, /root/reference/collector.go:92-99); these are the north-rule
additions that make the engine a usable corpus-curation pipeline.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, functions as F

# Tiny per-language stopword seed lists (order matters only for docs).
# A production run swaps in full lists; the *mechanism* (vectorized
# membership count + argmax) is what scales.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "pour", "dans", "que"),
    "es": ("el", "la", "los", "y", "es", "una", "para", "con", "por"),
}


def tokens_expr(text: Column) -> Column:
    """Whitespace tokens of lowercased text, empties dropped.

    ``filter`` guards the empty-string artifacts that ``split`` produces on
    leading/trailing whitespace so token counts agree with any sane
    tokenizer (and with the SQL oracle's ``regexp_split_to_array``).
    """
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != F.lit(""))


def token_count_expr(text: Column) -> Column:
    """Whitespace token count (see :func:`subword_count_expr` for the
    BPE-ish variant — same shape, same cost)."""
    return F.size(tokens_expr(text))


# GPT-2-style pre-tokenizer shape: contraction suffixes, letter runs, digit
# runs, punctuation runs (optionally space-prefixed). Constructs restricted
# to what Java regex and RE2 (DuckDB) evaluate identically.
SUBWORD_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+"


def subword_count_expr(text: Column) -> Column:
    """BPE-ish subword token count: how many pre-tokenizer pieces the text
    splits into — the standard proxy for LLM token cost of a document.
    Pure ``regexp_extract_all`` → whole-stage codegen, no Python."""
    return F.size(
        F.regexp_extract_all(F.lower(text), F.lit("(" + SUBWORD_PATTERN + ")"), 1)
    )


def stopword_count_expr(text: Column, lang: str) -> Column:
    """How many tokens (with multiplicity) are stopwords of ``lang``."""
    vocab = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens_expr(text), lambda t: F.array_contains(vocab, t)))


def lang_id_expr(text: Column) -> Column:
    """Stopword-vote language ID: argmax over per-language stopword hits,
    ties broken by language-code order, 'und' (undetermined) when no
    stopword of any language occurs.

    Scale: a constant-width set of counters per row — embarrassingly
    parallel, no shuffle. Real n-gram models drop in by replacing the
    counter expressions; the argmax scaffold is unchanged.
    """
    langs = sorted(STOPWORDS)
    # all K counters in ONE array projection, then argmax as
    # array_max + array_position (first occurrence of the max = the
    # original first-wins tie-break). The obvious alternative — a chain of
    # when(score > best, ...) folds — nests the previous best expression
    # twice per step, so each counter (a full tokenize + filter) appears
    # O(2^K) times in the expression tree; this form evaluates each once.
    counts = F.array(*[stopword_count_expr(text, lang) for lang in langs])
    mx = F.array_max(counts)
    idx = F.array_position(counts, mx).cast("int")
    lang_arr = F.array(*[F.lit(lang) for lang in langs])
    return F.when(mx > 0, F.element_at(lang_arr, idx)).otherwise(F.lit("und"))


def quality_features(text: Column) -> dict[str, Column]:
    """Quality-scoring features, all JVM-side:

    * ``n_chars``        — length
    * ``n_tokens``       — whitespace tokens
    * ``avg_token_len``  — (chars excluding whitespace) / tokens
    * ``stopword_ratio`` — EN stopword tokens / tokens
    * ``uniq_ratio``     — distinct tokens / tokens (repetition detector)
    * ``quality_score``  — a fixed linear blend, rounded to 4 d.p. so the
      value is reproducible across engines and float orders
    """
    toks = tokens_expr(text)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    non_ws = F.length(F.regexp_replace(text, r"\s+", ""))
    safe_tokens = F.greatest(n_tokens, F.lit(1)).cast("double")
    avg_token_len = F.round(non_ws / safe_tokens, 4)
    stop_ratio = F.round(stopword_count_expr(text, "en") / safe_tokens, 4)
    uniq_ratio = F.round(F.size(F.array_distinct(toks)) / safe_tokens, 4)
    score = F.round(
        F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.4
        + stop_ratio * 0.2
        + uniq_ratio * 0.4,
        4,
    )
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "avg_token_len": avg_token_len,
        "stopword_ratio": stop_ratio,
        "uniq_ratio": uniq_ratio,
        "quality_score": score,
    }


# Rolling-hash parameters: base/modulus chosen so acc*B + v stays < 2^52
# (no int64 overflow in either engine) and % on nonnegative operands is
# engine-agnostic.
ROLL_BASE = 1_000_003
ROLL_MOD = 2_147_483_647  # 2^31 - 1 (Mersenne)


def _token_value_expr(token: Column) -> Column:
    """64→31-bit numeric value of one token, identical in Spark and DuckDB:
    first 60 bits of md5(token) reduced mod ROLL_MOD. md5 (not xxhash64)
    keeps the DuckDB oracle byte-exact."""
    h60 = F.conv(F.substring(F.md5(token), 1, 15), 16, 10).cast("long")
    return h60 % F.lit(ROLL_MOD)


def rolling_fingerprint_expr(text: Column) -> Column:
    """Karp–Rabin rolling-hash document fingerprint: the polynomial hash
    ``acc <- (acc * B + v(token)) mod M`` folded over the whitespace tokens
    of the lowercased text. Order-sensitive (unlike a bag-of-words md5), so
    token reorderings fingerprint differently.

    Scale: one ``aggregate`` over an in-row array — whole-stage codegen,
    no shuffle; at 100 TB it rides the scan like :func:`fingerprint_expr`.
    """
    return F.aggregate(
        tokens_expr(text),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * F.lit(ROLL_BASE) + _token_value_expr(t)) % F.lit(ROLL_MOD),
    )


def kgram_hashes_expr(text: Column, k: int = 3) -> Column:
    """Array of rolling hashes of all token ``k``-grams of the text (same
    polynomial as :func:`rolling_fingerprint_expr`, evaluated per window);
    empty array when the document has fewer than ``k`` tokens.

    Spark has no ``let``, so naively indexing the token array inside the
    per-gram lambda re-evaluates the whole split/filter/md5 chain per access
    — O(tokens²) per row. ``transform(array(vals), vals -> …)`` binds the
    token-value array to a lambda variable evaluated ONCE per row; inside,
    ``element_at(vals, i)`` is O(1) array indexing.
    """
    vals = F.transform(tokens_expr(text), _token_value_expr)

    def over_vals(v: Column) -> Column:
        def gram_hash(i: Column) -> Column:
            acc: Column = F.lit(0).cast("long")
            for j in range(k):
                acc = (acc * F.lit(ROLL_BASE) + F.element_at(v, i + F.lit(j))) % F.lit(ROLL_MOD)
            return acc

        n_grams = F.size(v) - F.lit(k - 1)
        return F.when(
            n_grams >= 1, F.transform(F.sequence(F.lit(1), n_grams), gram_hash)
        ).otherwise(F.array().cast("array<long>"))

    return F.element_at(F.transform(F.array(vals), over_vals), 1)


def kgram_min_fingerprint_expr(text: Column, k: int = 3) -> Column:
    """Winnowing-style fingerprint: the MIN of the rolling hashes of all
    token ``k``-grams (:func:`kgram_hashes_expr`). Robust to prepended or
    appended boilerplate, which shifts the full-document hash but leaves
    interior k-grams intact. Documents with fewer than ``k`` tokens
    fingerprint as -1."""
    grams = kgram_hashes_expr(text, k)
    return F.when(F.size(grams) >= 1, F.array_min(grams)).otherwise(
        F.lit(-1).cast("long")
    )


def sampled_kgram_hashes_expr(text: Column, k: int = 3, mod: int = 16) -> Column:
    """Mod-sampled distinct k-gram hashes: the grams whose rolling hash is
    ``0 (mod mod)`` — a deterministic ~1/mod sample of a document's
    k-grams that two documents agree on WHEREVER THEIR TEXT OVERLAPS (the
    sample is a pure function of the gram content, never of the document).
    This is the scale path to exact-substring overlap detection: explode
    only the sample, self-join on the hash, and every collision is an
    exact shared-k-token-span witness."""
    return F.array_distinct(
        F.filter(kgram_hashes_expr(text, k), lambda h: h % F.lit(mod) == 0)
    )


def fingerprint_expr(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text. Used as the exact-dedup key; md5 (not xxhash64) so the
    DuckDB oracle computes the identical digest. At 100 TB the fingerprint
    is computed in the scan stage and becomes the shuffle key for dedup —
    uniformly distributed by construction, so no skew handling needed.
    """
    normalized = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return F.md5(normalized)


def ngrams_all_expr(text: Column, n: int) -> Column:
    """ALL word n-grams (non-distinct, document order) — repetition signals
    need multiplicities, unlike the set-semantics ``dedup.shingles_expr``."""
    toks = tokens_expr(text)
    if n == 1:
        return toks
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.when(F.size(toks) >= n, gram).otherwise(F.array().cast("array<string>"))


def repetition_stats(df, id_col: str, text_col: str):
    """Gopher-style repetition quality signals per document:

    * ``top_bigram_frac``  — occurrences of the single most frequent bigram
      as a fraction of all bigram instances (boilerplate detector);
    * ``dup_trigram_frac`` — fraction of trigram instances whose trigram
      occurs more than once in the doc (templated-page detector).

    Shape: explode n-grams (NON-distinct) → groupBy(doc, gram) count →
    groupBy(doc) max/sum — two shuffles per gram size, both keyed by doc_id
    (+gram), uniform. The per-doc frequency table never sits in one task's
    memory as a whole-doc blob, so a pathological 1 GB document costs its
    partitions, not an executor. Short docs (no n-grams) emit 0.0.

    From "Scaling Language Models: Methods, Analysis & Insights from
    Training Gopher" (Rae et al. 2021), Table A1 repetition filters —
    public methodology; thresholds are the caller's policy.
    """
    from crawler_spark.pipeline.dedup import spread

    # ONE scan: tag each gram with its size and explode both families
    # together; then (doc, n, gram) counts → per-doc conditional aggregates.
    # Two shuffles total (vs four for one-pipeline-per-gram-size), and the
    # text column is tokenized exactly once.
    tag = lambda n: F.transform(  # noqa: E731
        ngrams_all_expr(F.col(text_col), n),
        lambda g: F.struct(F.lit(n).alias("n"), g.alias("g")),
    )
    ex = spread(df).select(
        F.col(id_col), F.explode(F.concat(tag(2), tag(3))).alias("t")
    ).select(F.col(id_col), F.col("t.n").alias("n"), F.col("t.g").alias("g"))
    counts = ex.groupBy(id_col, "n", "g").agg(F.count(F.lit(1)).alias("c"))
    is2, is3 = F.col("n") == 2, F.col("n") == 3
    per = counts.groupBy(id_col).agg(
        (F.max(F.when(is2, F.col("c"))) / F.sum(F.when(is2, F.col("c")))).alias(
            "top_bigram_frac"
        ),
        (
            F.coalesce(F.sum(F.when(is3 & (F.col("c") > 1), F.col("c"))), F.lit(0))
            / F.sum(F.when(is3, F.col("c")))
        ).alias("dup_trigram_frac"),
    )
    return (
        df.select(F.col(id_col))
        .join(per, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
            F.coalesce("dup_trigram_frac", F.lit(0.0)).alias("dup_trigram_frac"),
        )
    )


def tfidf_top_terms(df, id_col: str, text_col: str, k: int = 5):
    """Top-k characteristic terms per document by TF-IDF.

    Score = ``tf · (N+1)/(df+1)`` — the log-free idf ratio. Rationale: it
    is monotone in tf and in 1/df like the classic ``tf·ln((N+1)/(df+1))``,
    but uses only IEEE multiply/divide (correctly rounded, bit-identical
    across engines), where ``ln`` is libm-dependent and can flip
    nearly-tied ranks between Spark's JVM and a SQL oracle. Ties are
    broken by term ascending — rank is fully a data property.

    Shape: explode tokens → (doc, term) tf counts (one shuffle) → term
    document-frequency table (vocab-sized → BROADCAST back onto tf, no
    fact-sized term-keyed shuffle; stopword skew never materializes) →
    per-doc top-k window. N is a scalar aggregate cross-joined back as a
    broadcast (the rank_weighted_budgets shape) — folded into the one
    query plan instead of the separate driver count() job pre-r4 paid
    (one fewer job, one fewer corpus touch at 100 TB).
    """
    from pyspark.sql import Window

    from crawler_spark.pipeline.dedup import spread

    n = df.agg(F.count(F.lit(1)).alias("_n_docs"))
    toks = spread(df).select(
        F.col(id_col), F.explode(tokens_expr(F.col(text_col))).alias("term")
    )
    # scanned twice (df_t build + scored join) but NOT persisted: the
    # returned frame is lazy, so nothing could release the cache; exchange
    # reuse shares the tf shuffle between the two consumers
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    # same association as the SQL twin: (tf·(N+1)) / (df+1), N+1 integer
    # before one exact int→double conversion
    score = (
        F.col("tf").cast("double") * (F.col("_n_docs") + F.lit(1)).cast("double")
    ) / (F.col("df_t") + 1)
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score", score)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(F.col(id_col), "term", "tf", "df_t", "score", "rnk")
    )


def inverted_postings(df, id_col: str, text_col: str, k: int = 50):
    """Bounded inverted index: for every term, its document frequency and
    its top-``k`` postings (highest-tf documents, ties doc-id ascending)
    as a compact ``"id:tf"`` rank-ordered list string.

    Output: ``(term, df_t, postings)`` — one row per distinct term.

    Shape: explode tokens → (doc, term) tf counts (one shuffle with
    map-side partial agg) → two term-keyed consumers with DIFFERENT scale
    hazards, handled separately:

    * ``df_t`` must see every (term, doc) pair, so it is a plain partial
      aggregate — the hot-term (stopword) skew collapses map-side and the
      term exchange carries one row per (partition, term).
    * the posting list must NOT see every pair (a 100-TB stopword's raw
      postings are the corpus), so it goes through ``row_number`` over the
      term window + ``rnk <= k`` filter, which Spark plans as a map-side
      WindowGroupLimit: each input partition forwards at most k rows per
      term to the exchange, bounding the hot term at k·partitions in
      flight and k after the final rank.

    The vocab-sized ``df_t`` table then broadcasts back onto the (already
    k-bounded) posting rows — the same broadcast-df pattern as
    :func:`tfidf_top_terms`; no fact-sized join shuffle anywhere. The tf
    counts feed both consumers unpersisted (the returned frame is lazy, so
    a cache could never be released): exchange reuse shares the tf shuffle
    and only the post-shuffle final aggregate runs once per consumer.
    """
    from pyspark.sql import Window

    from crawler_spark.pipeline.dedup import spread

    toks = spread(df).select(
        F.col(id_col), F.explode(tokens_expr(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy("term", id_col).agg(F.count(F.lit(1)).alias("tf"))
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    w = Window.partitionBy("term").orderBy(F.col("tf").desc(), F.col(id_col).asc())
    ranked = (
        tf.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )
    postings = ranked.groupBy("term").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rnk", F.col(id_col).alias("d"), "tf"))
                ),
                lambda s: F.concat_ws(":", s["d"], s["tf"]),
            ),
        ).alias("postings")
    )
    return postings.join(F.broadcast(dft), "term").select("term", "df_t", "postings")


# PII scrubbing (the Dolma/CCNet redaction pass). Patterns are written in
# the COMMON subset of Java regex (Spark) and RE2 (DuckDB oracle): plain
# character classes, bounded repetition, \b, non-capturing groups — no
# lookaround (RE2 has none), no Unicode classes (\d is ASCII in both).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "|||EMAIL_ADDRESS|||"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "|||PHONE_NUMBER|||"),
    ("ip", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "|||IP_ADDRESS|||"),
)


def pii_redact(df, id_col: str, text_col: str):
    """Redact emails, dashed/dotted phone numbers, and IPv4 addresses with
    Dolma-style ``|||KIND|||`` placeholders; report per-document match
    counts alongside the scrubbed text.

    Output: ``(id, n_email, n_phone, n_ip, clean_text)``.

    The three patterns apply in declaration order, each counting against
    the text AFTER the previous redactions (placeholders contain no
    digits or ``@``, so a replacement can never create a new match).
    Everything is built-in ``regexp_count``/``regexp_replace`` — pure
    whole-stage codegen, no shuffle at all: at 100 TB this is a map-only
    pass bounded by parquet scan throughput.
    """
    counts = []
    cur = F.col(text_col)
    for name, pat, repl in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, repl)
    return df.select(F.col(id_col), *counts, cur.alias("clean_text"))


def corpus_familiarity(df, id_col: str, text_col: str):
    """Unigram-LM corpus-familiarity score per document — the log-free
    stand-in for the CCNet/Wenzek-et-al. perplexity filter: documents
    whose tokens are RARE against the corpus distribution score low
    (gibberish, boilerplate IDs, lang-mix), documents of pure stopwords
    score high; the curation pipeline keeps the middle band, exactly as
    CCNet buckets by LM perplexity.

    Score = ``(Σ_i cnt(tok_i)) / (n_tokens · N)`` — the mean relative
    corpus frequency over the document's token OCCURRENCES. Both the
    per-document numerator (Σ of BIGINT counts) and the denominator
    (two BIGINTs multiplied) are exact integers, so cross-engine
    determinism needs only ONE correctly rounded IEEE division at the
    end — no float sums to drift, no ``ln`` (the classic
    ``Σ log p`` formulation is banned from rank keys by the repo's
    libm rule; mean-frequency yields the same keep/drop band).

    Output: ``(id, n_tokens, sum_cnt, familiarity)`` — empty documents
    score 0.

    Shape: explode tokens → token-keyed count with MAP-SIDE partial
    aggregation (one exchange, vocab-sized result) → vocab BROADCAST back
    onto the exploded stream (no fact-sized token-keyed shuffle — the
    tfidf/inverted-postings discipline; stopword skew never materializes
    as a hot reduce key) → per-doc sum (one doc-keyed exchange, also
    map-side combined). The broadcast holds while the vocabulary fits
    executor memory; a web-scale vocabulary with its long tail of rare
    tokens may not. The corpus total N rides the plan as a scalar
    aggregate crossJoin, not a separate driver count() job. Both reads
    of the exploded tokens sit in the one returned plan, so nothing is
    persisted: the frame is lazy, and a cache it pinned could never be
    released.
    """
    from crawler_spark.pipeline.dedup import spread

    toks = spread(df).select(
        F.col(id_col), F.explode(tokens_expr(F.col(text_col))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    big_n = vocab.agg(F.sum("cnt").alias("_n_corpus"))
    per_doc = (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cnt").alias("sum_cnt"),
        )
    )
    scored = (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .crossJoin(F.broadcast(big_n))
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("sum_cnt", F.lit(0)).cast("long").alias("sum_cnt"),
            F.when(F.coalesce("n_tokens", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.col("sum_cnt").cast("double")
                / (F.col("n_tokens") * F.col("_n_corpus")).cast("double")
            )
            .alias("familiarity"),
        )
    )
    return scored


def unicode_normalize(df, id_col: str, text_col: str):
    """Unicode text normalization for crawl output — the ftfy-lite pass
    every web corpus needs before tokenization: strip C0/C1 control
    characters, collapse whitespace runs, and NFC-compose combining
    sequences (``e`` + U+0301 → ``é``) so byte-identical text dedups
    byte-identically.

    Output: ``(id, n_ctrl, changed, clean_text)``.

    Order (fixed, part of the contract): (1) control strip, (2)
    whitespace collapse + trim, (3) NFC. Steps 1-2 are JVM
    ``regexp_replace`` (map-only, whole-stage codegen). The whitespace
    class is the EXPLICIT ``[ \\t\\n\\r]`` — Java's ``\\s`` includes
    ``\\x0B`` where RE2's does not, and step 1 already removed
    ``\\x0B``/``\\x0C``, so the explicit class is the cross-engine
    common denominator. Step 3 is an Arrow-batched pandas UDF over
    ``unicodedata.normalize`` (both it and DuckDB's ``nfc_normalize``
    implement the same Unicode canonical composition — verified
    byte-identical on combining-sequence/reordering cases). No shuffle
    anywhere: at 100 TB this is a map-only pass; the only Python cost
    is the NFC batch, and a deployment can gate it behind a
    ``rlike('[^\\x00-\\x7F]')`` pre-filter since NFC is identity on
    ASCII.
    """
    import unicodedata

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: x if x is None else unicodedata.normalize("NFC", x)
        )

    ctrl = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
    t0 = F.col(text_col)
    t1 = F.regexp_replace(t0, ctrl, "")
    t2 = F.trim(F.regexp_replace(t1, r"[ \t\n\r]+", " "))
    return (
        df.select(
            F.col(id_col),
            F.col(text_col).alias("_orig"),
            F.regexp_count(t0, F.lit(ctrl)).cast("long").alias("n_ctrl"),
            t2.alias("_pre_nfc"),
        )
        .select(
            F.col(id_col),
            "_orig",
            "n_ctrl",
            _nfc(F.col("_pre_nfc")).alias("clean_text"),
        )
        .select(
            F.col(id_col),
            "n_ctrl",
            (F.col("clean_text") != F.col("_orig")).alias("changed"),
            "clean_text",
        )
    )


def containment_decontaminate(
    train,
    bench,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_pct: int = 80,
):
    """Containment-based eval-set decontamination: for every
    (train doc, benchmark doc) pair sharing at least one distinct word
    ``n``-gram, report ``containment = |shared| / |bench shingles|`` and
    flag pairs at or above ``threshold_pct``. Containment (not Jaccard)
    is the right directional metric here — a short benchmark item fully
    embedded in a long training document has tiny Jaccard but
    containment 1.0, and embedded-verbatim is exactly the contamination
    mode that inflates eval scores (the any-shared-gram variant is
    :func:`q_decontaminate`'s flag; this is the graded pair-level tier).

    Output: ``(id, bench_id, n_shared, bench_size, containment,
    contaminated)``.

    Determinism: ``n_shared`` and ``bench_size`` are exact ints;
    ``containment`` is ONE IEEE division; the THRESHOLD compare is the
    integer cross-multiplication ``100·n_shared ≥ threshold_pct·
    bench_size`` — no float ever reaches a boundary test (the
    DECIMAL-before-compare rule, integer edition).

    Shape at 100 TB: the benchmark suite is small by definition → its
    distinct (bench_id, shingle) frame BROADCASTS into an equi-join on
    the exploded train shingles (never a fact-sized shuffle on the gram
    key); the only exchange is the (train, bench)-pair count with
    map-side partial aggregation, and pair cardinality is bounded by
    hits against the tiny benchmark set, not by corpus size.
    """
    from crawler_spark.pipeline.dedup import shingles_expr

    bench_grams = bench.select(
        F.col(id_col).alias("bench_id"),
        F.explode(F.array_distinct(shingles_expr(F.col(text_col), n))).alias(
            "shingle"
        ),
    ).distinct()
    bench_sizes = bench_grams.groupBy("bench_id").agg(
        F.count(F.lit(1)).alias("bench_size")
    )
    train_grams = train.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_expr(F.col(text_col), n))).alias(
            "shingle"
        ),
    )
    pairs = (
        train_grams.join(F.broadcast(bench_grams), "shingle")
        .groupBy(id_col, "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return pairs.join(F.broadcast(bench_sizes), "bench_id").select(
        F.col(id_col),
        "bench_id",
        F.col("n_shared").cast("long").alias("n_shared"),
        F.col("bench_size").cast("long").alias("bench_size"),
        (F.col("n_shared").cast("double") / F.col("bench_size").cast("double")).alias(
            "containment"
        ),
        (
            F.lit(100) * F.col("n_shared") >= F.lit(threshold_pct) * F.col("bench_size")
        ).alias("contaminated"),
    )
