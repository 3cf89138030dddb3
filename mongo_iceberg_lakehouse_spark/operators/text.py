"""Text analysis operators for LLM-data pipelines (charter, SURVEY.md §2.11).

Everything here is built from JVM-side ``pyspark.sql.functions`` (split /
filter / transform / aggregate / regexp) — no Python UDFs — so the operators
run inside whole-stage codegen and scale linearly with input bytes: exactly
what a 100 TB text-cleaning pass needs (one narrow map stage, no shuffle
except the final per-corpus aggregations).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.expr import let_
from ..session import spread

# Tiny per-language stopword lists for the n-gram/stopword-vote language-ID
# heuristic. Order = deterministic tiebreak priority.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "los", "las", "que", "y"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "fr": ("le", "la", "les", "et", "des", "est"),
    "zh": ("的", "是", "了", "在", "我"),
}

DEFAULT_STOPWORDS: tuple[str, ...] = LANG_STOPWORDS["en"]


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization, lowercased, empty tokens removed."""
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(t), r"\s+"), lambda x: x != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


BPE_PRETOKEN_PATTERN = r"\p{L}+|\p{N}+|[^\p{L}\p{N}\s]+"


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count via a GPT-2-style pre-tokenizer: extract
    letter runs, digit runs, and punctuation/symbol runs (whitespace only
    separates) — the category-split stage every BPE tokenizer applies
    before merging, so it is a faithful stand-in for token budgeting
    (punctuation COUNTS, as it does in real BPE vocabularies).

    The pattern uses only Unicode category classes — no lookarounds — so
    it is RE2-expressible and DuckDB's ``regexp_extract_all`` reproduces
    it byte-for-byte: verified on the zh/accents/digit-boundary edge
    cases, which is what lets ``text_bpe_token_stats`` carry a full SQL
    oracle (it was rows-only while the old formulation leaned on Java
    lookarounds)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(
        F.regexp_extract_all(
            F.lower(t), F.lit(BPE_PRETOKEN_PATTERN), F.lit(0)
        )
    )


def stopword_count(text: Column | str, stopwords: tuple[str, ...] = DEFAULT_STOPWORDS) -> Column:
    return F.size(F.filter(tokens(text), lambda x: x.isin(*stopwords)))


def quality_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document quality features: token count, stopword ratio, mean token
    length, punctuation ratio, and a boolean keep-flag."""
    tk = tokens(F.col(text_col))
    n_tok = F.size(tk)
    stop_cnt = F.size(F.filter(tk, lambda x: x.isin(*DEFAULT_STOPWORDS)))
    char_len = F.length(F.col(text_col))
    punct_cnt = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", ""))
    n_tok_d = n_tok.cast("double")
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        stop_cnt.alias("stopword_cnt"),
        F.when(n_tok == 0, F.lit(0.0))
        .otherwise(stop_cnt.cast("double") / n_tok_d)
        .alias("stop_ratio"),
        F.when(char_len == 0, F.lit(0.0))
        .otherwise(punct_cnt.cast("double") / char_len.cast("double"))
        .alias("punct_ratio"),
        F.when(n_tok == 0, F.lit(0.0))
        .otherwise(char_len.cast("double") / n_tok_d)
        .alias("chars_per_token"),
        ((n_tok >= 10) & (F.when(n_tok == 0, F.lit(0.0)).otherwise(stop_cnt.cast("double") / n_tok_d) < 0.5)).alias(
            "is_quality"
        ),
    )


def lang_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stopword-vote language ID: count per-language stopword hits, predict
    the argmax with a fixed priority order for ties; 'und' when zero votes.

    The vote loop is a CASE chain over JVM-computed counts — deterministic and
    mirror-able in ANSI SQL for the oracle.
    """
    tk = tokens(F.col(text_col))

    def vote_count(words: tuple[str, ...]) -> Column:
        ws = list(words)
        # NB: closure, not a default arg — pyspark's lambda introspection
        # would treat a second parameter as another lambda variable.
        return F.size(F.filter(tk, lambda x: x.isin(*ws)))

    votes = {lang: vote_count(words) for lang, words in LANG_STOPWORDS.items()}
    langs = list(LANG_STOPWORDS)
    best = F.greatest(*[votes[lang] for lang in langs])
    pred = F.when(best == 0, F.lit("und"))
    for lang in langs:  # first language reaching the max wins (priority order)
        pred = pred.when(votes[lang] == best, F.lit(lang))
    out = df.select(
        F.col(id_col),
        *[votes[lang].alias(f"votes_{lang}") for lang in langs],
        pred.alias("pred_lang"),
    )
    return out


def content_fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Normalized-content fingerprint: md5 over the canonicalized token
    stream. Two documents differing only in whitespace/case share a
    fingerprint — the cheap exact-dedup key for a 100 TB corpus."""
    canon = F.concat_ws(" ", tokens(F.col(text_col)))
    return df.select(
        F.col(id_col),
        F.md5(canon).alias("fingerprint"),
        F.length(canon).alias("canon_len"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    kgram: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints: hash every k-gram shingle, keep
    the minimum hash of each sliding window — the classic local fingerprint
    set for near-dup detection (Schleimer et al., SIGMOD'03 scheme).

    Output: one row per (doc, distinct fingerprint). JVM-side throughout:
    shingle hashes via transform+hash, window minima via transform over a
    sequence of window start indices + array_min(slice(...)).

    Gram hashes are 60-bit md5-prefix integers
    (conv(substr(md5(gram),1,15),16,10)) — the scheme is hash-agnostic,
    and the md5 form is reproducible in any engine, which is what lets
    the registry query carry a FULL DuckDB oracle instead of a rows-only
    check.
    """
    # bind the token array once (let_): the shingle lambda slices it per
    # k-gram, and an unbound reference would re-tokenize per shingle —
    # O(L^2) per document
    def _gram_hash(g: Column) -> Column:
        return F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")

    def _hashes(tk: Column) -> Column:
        n_sh = F.greatest(F.size(tk) - (kgram - 1), F.lit(0))
        sh_idx = F.sequence(F.lit(0), n_sh - 1)
        return F.when(n_sh == 0, F.array().cast("array<bigint>")).otherwise(
            F.transform(
                sh_idx,
                lambda i: _gram_hash(
                    F.concat_ws(" ", F.slice(tk, i + 1, kgram))
                ),
            )
        )

    df2 = df.select(
        F.col(id_col), let_(tokens(F.col(text_col)), _hashes).alias("__h")
    )
    n_win = F.greatest(F.size(F.col("__h")) - (window - 1), F.lit(0))
    win_idx = F.sequence(F.lit(0), n_win - 1)
    mins = F.when(n_win == 0, F.array().cast("array<bigint>")).otherwise(
        F.array_distinct(
            F.transform(
                win_idx, lambda i: F.array_min(F.slice(F.col("__h"), i + 1, window))
            )
        )
    )
    # explode_outer + null-filter instead of explode: the inferred
    # size()>0 filter would evaluate the whole rolling-min pipeline twice
    # per row; the post-filter on the GENERATED attribute is cheap and
    # restores drop-empty semantics (fingerprints are never legitimately
    # null: array_min over md5-prefix values)
    return (
        df2.select(F.col(id_col), F.explode_outer(mins).alias("fingerprint"))
        .filter(F.col("fingerprint").isNotNull())
    )


def word_ngrams(ws: Column | str, n: int) -> Column:
    """Space-joined word n-grams from a token array, JVM-side
    (transform over an index sequence; empty when fewer than n tokens).

    The token array is bound once via ``let_``: the gram lambda references
    it n+2 times, and when callers pass a computed array (e.g. a split),
    unbound references would re-evaluate it per gram — O(L^2) per row."""
    c = F.col(ws) if isinstance(ws, str) else ws

    def body(tk: Column) -> Column:
        return F.when(
            F.size(tk) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(tk) - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(tk, i + j + 1) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let_(c, body)


def ngram_overlap_contamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
) -> DataFrame:
    """(id, n_overlap): corpus documents sharing >= 1 word n-gram with the
    eval set, with the count of distinct shared n-grams — benchmark
    decontamination for training corpora.

    Scale shape: the eval side (distinct n-grams of the benchmark, small by
    construction) is BROADCAST; the corpus side is one narrow
    split/transform/explode projection — no corpus-wide shuffle until the
    final per-doc count over only the matching rows. For very large eval
    sets, swap the broadcast for a bloom-filter prejoin (plans/bloom.py);
    the join here stays on gram strings so the result is exactly the SQL
    oracle (hashing grams first, xxhash64, is the production variant and
    changes nothing observable absent 64-bit collisions).
    """

    def grams(df: DataFrame) -> DataFrame:
        # outer + null-filter: skip the inferred-filter re-evaluation of the
        # n-gram build (grams themselves are never null: concat_ws)
        return df.select(
            F.col(id_col),
            F.explode_outer(
                word_ngrams(F.split(F.col(text_col), " "), n)
            ).alias("gram"),
        ).filter(F.col("gram").isNotNull())

    ev = grams(eval_set).select("gram").distinct()
    return (
        grams(corpus)
        .join(F.broadcast(ev), "gram")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("n_overlap"))
    )


def fuzzy_pairs_ed1(df: DataFrame, id_col: str, s_col: str) -> DataFrame:
    """All id pairs whose strings are within Levenshtein distance 1, via
    deletion-neighborhood blocking (FastSS): two strings are within edit
    distance 1 only if their depth-1 deletion neighborhoods (the string
    itself plus every single-character deletion) intersect — substitution
    pairs meet at the variant deleting the differing position; insert/
    delete pairs meet at the shorter string itself.

    Scale shape: the naive fuzzy join is an O(n^2) cross join with a
    per-pair Levenshtein — unrunnable at corpus scale. Blocking emits
    O(len) variants per row (one narrow codegen'd HOF projection, no
    shuffle), equi-joins on the variant (shuffle keyed by variant, work
    proportional to block sizes, not n^2), then verifies the exact
    distance with the built-in ``levenshtein`` on the surviving
    candidates only. The oracle IS the quadratic formulation, proving the
    blocking loses nothing at ed<=1.
    """
    variants = df.select(
        F.col(id_col).alias("__id"),
        F.col(s_col).alias("__s"),
        # outer: skip the inferred-filter re-build of the deletion
        # neighborhood (always contains the string itself; a null string
        # yields a null variant that matches nothing in the equi-join)
        F.explode_outer(
            F.array_distinct(
                F.concat(
                    F.array(F.col(s_col)),
                    F.expr(
                        f"transform(sequence(1, length({s_col})), i -> "
                        f"concat(substring({s_col}, 1, i - 1), "
                        f"substring({s_col}, i + 1, length({s_col}))))"
                    ),
                )
            )
        ).alias("__v"),
    )
    a, b = variants.alias("a"), variants.alias("b")
    cand = (
        a.join(b, (F.col("a.__v") == F.col("b.__v")) & (F.col("a.__id") < F.col("b.__id")))
        .select(
            F.col("a.__id").alias("a_id"),
            F.col("a.__s").alias("a_s"),
            F.col("b.__id").alias("b_id"),
            F.col("b.__s").alias("b_s"),
        )
        .distinct()
    )
    return cand.where(F.levenshtein("a_s", "b_s") <= 1).select("a_id", "b_id")


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a bag of query terms.

    One explode+groupBy pass produces per-doc term frequencies and document
    lengths; document frequencies and the average length are tiny aggregates
    broadcast back (never a driver collect). idf uses the standard
    ln(1 + (N - df + 0.5)/(df + 0.5)) form, so scores are always positive.
    Scale shape: the only wide exchange is the (doc, term) aggregation; at
    corpus scale the term filter prunes the exploded stream to |terms|
    matches per doc before the shuffle.
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
    ).filter(F.col("__tok") != "")
    dl = toks.groupBy("__id").agg(F.count(F.lit(1)).alias("__dl"))
    n_avg = dl.agg(
        F.count(F.lit(1)).alias("__n"), F.avg("__dl").alias("__avgdl")
    )
    tf = (
        toks.filter(F.col("__tok").isin(terms))
        .groupBy("__id", "__tok")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    dfreq = tf.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    scored = (
        tf.join(F.broadcast(dfreq), "__tok")
        .join(dl, "__id")
        .crossJoin(F.broadcast(n_avg))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    denom = F.col("__tf") + k1 * (
        1 - b + b * F.col("__dl") / F.col("__avgdl")
    )
    contrib = idf * F.col("__tf") * (k1 + 1) / denom
    return (
        scored.groupBy("__id")
        .agg(F.sum(contrib).alias("bm25"))
        .select(F.col("__id").alias(id_col), "bm25")
    )


def gopher_quality_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
    min_words: int = 40,
    max_words: int = 120,
    min_mwl_micros: int = 3_800_000,
    max_mwl_micros: int = 10_000_000,
    min_distinct_stopwords: int = 2,
    max_dup_frac_micros: int = 500_000,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1), the
    standard pre-training corpus filter set, re-expressed as one JVM-side
    projection:

    - word-count band (``min_words..max_words``),
    - mean word length band,
    - at least ``min_distinct_stopwords`` DISTINCT stopwords present (the
      "natural language" check),
    - duplicate-word fraction cap (``1 - distinct/total``, the repetition
      check — the paper's duplicate-line fraction collapsed to word level
      for single-line documents).

    All ratios are emitted as integer micro-units (``floor(1e6*a/b + 0.5)``
    of exact integer numerators), the repo's knife-edge discipline: no
    float-sum ordering can flip a flag between engines. Zero shuffles —
    a narrow map over the corpus, so it scales embarrassingly.

    Returns (id, n_words, mean_word_len_micros, distinct_stop_cnt,
    dup_frac_micros, wc_ok, mwl_ok, stop_ok, rep_ok, passes_gopher).
    """
    d = df.withColumn("__ws", tokens(F.col(text_col)))
    d = d.withColumn("__n", F.size("__ws"))
    d = d.withColumn(
        "__chars",
        F.aggregate(
            F.transform("__ws", F.length),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ),
    )
    d = d.withColumn("__distinct", F.size(F.array_distinct("__ws")))
    stoplist = F.array(*[F.lit(s) for s in stopwords])
    d = d.withColumn(
        "__stop_distinct",
        F.size(F.filter(stoplist, lambda s: F.array_contains(F.col("__ws"), s))),
    )
    n = F.col("__n")
    mwl = F.when(n == 0, F.lit(0).cast("bigint")).otherwise(
        F.floor((F.lit(1_000_000) * F.col("__chars")) / n + F.lit(0.5))
    )
    dup = F.when(n == 0, F.lit(0).cast("bigint")).otherwise(
        F.floor((F.lit(1_000_000) * (n - F.col("__distinct")).cast("bigint")) / n + F.lit(0.5))
    )
    d = d.withColumn("mean_word_len_micros", mwl).withColumn(
        "dup_frac_micros", dup
    )
    wc_ok = (n >= min_words) & (n <= max_words)
    mwl_ok = (F.col("mean_word_len_micros") >= min_mwl_micros) & (
        F.col("mean_word_len_micros") <= max_mwl_micros
    )
    stop_ok = F.col("__stop_distinct") >= min_distinct_stopwords
    rep_ok = F.col("dup_frac_micros") <= max_dup_frac_micros
    return d.select(
        F.col(id_col),
        n.alias("n_words"),
        "mean_word_len_micros",
        F.col("__stop_distinct").alias("distinct_stop_cnt"),
        "dup_frac_micros",
        wc_ok.alias("wc_ok"),
        mwl_ok.alias("mwl_ok"),
        stop_ok.alias("stop_ok"),
        rep_ok.alias("rep_ok"),
        (wc_ok & mwl_ok & stop_ok & rep_ok).alias("passes_gopher"),
    )


PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\d{3}[-.]\d{3}[-.]\d{4}"


def pii_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PII detection + redaction (corpus-curation classic): count and
    replace email addresses and phone numbers, emitting per-doc counts,
    the redacted length, and an md5 of the redacted text so a downstream
    oracle can verify the REPLACEMENT bytes, not just the counts.

    Pure JVM narrow projection — regexp_count / regexp_replace inside
    whole-stage codegen, zero shuffle, zero Python. The patterns stay in
    the (character-class, \\d, {n}) regex subset where Java's engine and
    RE2 (DuckDB) agree, so the oracle is exact. At 100 TB this is a
    map-only pass: it scales with scan bandwidth and nothing else.
    """
    email, phone = F.lit(PII_EMAIL_RE), F.lit(PII_PHONE_RE)
    redacted = F.regexp_replace(
        F.regexp_replace(F.col(text_col), email, F.lit("<EMAIL>")),
        phone,
        F.lit("<PHONE>"),
    )
    return df.select(
        F.col(id_col),
        F.regexp_count(F.col(text_col), email).alias("n_emails"),
        F.regexp_count(F.col(text_col), phone).alias("n_phones"),
        F.length(redacted).alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    )


def plant_synthetic_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministically append synthetic PII (emails always, a second
    email on even ids, a phone on ids % 3 == 0) — pure functions of the
    id, so an SQL oracle rebuilds the identical corpus. Test fixture for
    the scrub pass; stateless, so it composes with streaming frames."""
    planted = F.concat(
        F.col(text_col),
        F.lit(" contact u"),
        F.col(id_col).cast("string"),
        F.lit("@example.org"),
        F.when(
            F.col(id_col) % 2 == 0,
            F.concat(
                F.lit(" or b"), F.col(id_col).cast("string"),
                F.lit("@test.io"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col(id_col) % 3 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col(id_col) % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((F.col(id_col) % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    return df.withColumn(text_col, planted)


def sliding_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Sliding-window document chunking (the RAG / context-window prep
    primitive): split each document into word chunks of ``window`` tokens
    advancing by ``window - overlap``, so consecutive chunks share
    ``overlap`` tokens. The final chunk is whatever remains (never padded,
    never dropped); a document shorter than one window is one chunk.

    Zero-shuffle narrow map: tokenization, the chunk-count arithmetic, and
    the slice/rejoin all run as one JVM projection; output volume is
    input volume x (1 + overlap/stride) — the operator scales with scan
    bandwidth like every other map-only pass. The token array is bound
    once via ``let_`` (the chunk transform references it per chunk).

    Returns (id, chunk_id, n_tokens, chunk_text).
    """
    if not 0 <= overlap < window:
        raise ValueError("need 0 <= overlap < window")
    stride = window - overlap

    def body(ws: Column) -> Column:
        n = F.size(ws)
        extra = F.floor(
            (n - F.lit(window) + F.lit(stride - 1)) / F.lit(stride)
        ).cast("int")
        n_chunks = (
            F.when(n == 0, F.lit(0))
            .when(n <= window, F.lit(1))
            .otherwise(F.lit(1) + extra)
        )
        return F.when(
            n_chunks == 0,
            F.array().cast("array<struct<chunk_id:int,cw:array<string>>>"),
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.struct(
                    i.cast("int").alias("chunk_id"),
                    F.slice(ws, i * stride + 1, window).alias("cw"),
                ),
            )
        )

    chunked = df.select(
        F.col(id_col),
        # explode_outer: plain explode's inferred size()>0 filter would
        # re-inline the whole chunking pipeline into a predicate
        # (InferFiltersFromGenerate — PERF_NOTES); outer + null-filter on
        # the exploded output keeps it evaluated once.
        F.explode_outer(let_(tokens(F.col(text_col)), body)).alias("__c"),
    ).filter(F.col("__c").isNotNull())
    return chunked.select(
        F.col(id_col),
        F.col("__c.chunk_id").alias("chunk_id"),
        F.size("__c.cw").alias("n_tokens"),
        F.concat_ws(" ", F.col("__c.cw")).alias("chunk_text"),
    )


def bigram_lift_topk_hashed(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    k: int | None = 20,
    broadcast_hints: bool = True,
) -> DataFrame:
    """Hash-keyed-shuffle collocation extraction — same output contract as
    :func:`bigram_lift_topk` (top-k bigrams by exact micro-unit lift),
    restructured for corpora whose distinct-gram count grows with corpus
    size (the round-7 sf100 sweep measured the string-keyed form at
    36.8x/decade: ~1.5B mostly-unique gram STRINGS crossed the hash-agg
    spill threshold at ~45 GB of shuffle).

    The span-scrub round-6 pattern applied to counting:
      1. count bigrams by ``xxhash64`` key — the shuffle carries (8 B
         hash, count) fixed-width rows, never strings; unique one-off
         grams (the salted tail / any long-tail vocab) cost 16 B each
         instead of ~35 B and pack into Tungsten sort buffers;
      2. the ``min_count`` filter leaves a SURVIVOR set that is bounded
         by the real repeated vocabulary at any corpus size — broadcast
         it, semi-join a second bigram pass, and recover each survivor's
         string with a map-side-collapsed ``min(g)`` per hash (shuffle
         ~|survivors| x partitions rows);
      3. unigram counts only for the survivors' COMPONENT WORDS
         (broadcast semi-join again — the c_a/c_b table never counts the
         unique tail at all);
      4. ``n_total`` (ALL tokens, salts included) is one narrow agg scan.
    Three cheap corpus re-scans trade for ~2x less shuffle byte volume
    and fixed-width rows; a 64-bit gram-hash collision would merge two
    bigrams' counts (min-string wins) — the standard content-dedup
    tradeoff, and the string-based DuckDB oracle stays green at every
    gate scale, so the fixtures are collision-clean.

    ``broadcast_hints``: the survivor/word tables are bounded by the REAL
    repeated vocabulary, which still grows with corpus size — a forced
    ``F.broadcast`` that fits at sf100 can blow the 8 GB broadcast ceiling
    on a 100 TB web corpus where the string-keyed original would have
    degraded gracefully through shuffle joins. Callers that know the
    corpus footprint (queries.py dispatches on ``table_bytes``) pass
    ``False`` above the safe bound: the hints disappear and AQE picks
    broadcast only when the runtime sizes actually fit.
    """
    def maybe_bcast(d: DataFrame) -> DataFrame:
        return F.broadcast(d) if broadcast_hints else d

    df = spread(df)
    # NOT checkpointed: materializing the tokenized corpus would write
    # ~corpus-size token arrays to block storage (tens of GB at sf100 on
    # one box); re-scanning parquet + re-splitting per pass is a few
    # seconds of CPU per decade and keeps the operator disk-footprint-free
    toks = df.select(tokens(F.col(text_col)).alias("__ws"))

    bg_h = toks.select(
        F.explode_outer(
            F.transform(word_ngrams(F.col("__ws"), 2), lambda g: F.xxhash64(g))
        ).alias("__h")
    ).filter(F.col("__h").isNotNull())
    surv = (
        bg_h.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    bg_s = toks.select(
        F.explode_outer(word_ngrams(F.col("__ws"), 2)).alias("__g")
    ).filter(F.col("__g").isNotNull())
    named = (
        bg_s.withColumn("__h", F.xxhash64("__g"))
        .join(maybe_bcast(surv), "__h")
        .groupBy("__h")
        .agg(F.min("__g").alias("bigram"), F.first("c_ab").alias("c_ab"))
    )
    words = (
        named.select(F.explode(F.split("bigram", " ")).alias("w")).distinct()
    )
    uni = (
        toks.select(F.explode_outer("__ws").alias("w"))
        .filter(F.col("w").isNotNull())
        .join(maybe_bcast(words), "w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # coalesce(size, 0): under legacy sizeOfNull, size(NULL) is -1 — a
    # single NULL-text document would silently skew n_total (and every
    # lift) relative to the exploded-token count the oracle uses
    n_total = toks.select(
        F.sum(F.coalesce(F.size("__ws"), F.lit(0)))
        .cast("bigint")
        .alias("n_total")
    )
    scored = (
        named.withColumn("__w1", F.split("bigram", " ").getItem(0))
        .withColumn("__w2", F.split("bigram", " ").getItem(1))
        .join(maybe_bcast(uni.select(F.col("w").alias("__w1"), F.col("c").alias("c_a"))), "__w1")
        .join(maybe_bcast(uni.select(F.col("w").alias("__w2"), F.col("c").alias("c_b"))), "__w2")
        .crossJoin(F.broadcast(n_total))
        .withColumn(
            "lift_micros",
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * c_ab * n_total)"
                " div (CAST(c_a AS DECIMAL(38,0)) * c_b)"
            ),
        )
    )
    full = scored.select("bigram", "c_ab", "c_a", "c_b", "lift_micros")
    if k is None:
        # full exact lift table (every min_count survivor, no ranking) —
        # the sf100 value-gate probe slices this by a gram-space hash
        # bucket, which only works upstream of the top-k cut
        return full
    return full.orderBy(F.col("lift_micros").desc(), "bigram").limit(k)


def bigram_lift_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Corpus-level collocation extraction: top-k word bigrams by lift
    (the PMI exponent) ``P(ab) / (P(a)P(b)) = c_ab * N / (c_a * c_b)``,
    computed in EXACT BIGINT micro-units — ``(1e6 * c_ab * N) div
    (c_a * c_b)`` — so the ranking is engine-portable with no log/float
    in sight (ln is monotone: lift order IS PMI order). ``min_count``
    is the standard collocation support floor.

    Shape at scale: one (doc-local) bigram explode feeding a map-side-
    combinable groupBy on the bigram key, one unigram groupBy, then the
    vocabulary-sized count tables join back on well-distributed word
    keys (AQE broadcasts them when they fit; at 100 TB the bigram table
    after the ``min_count`` filter is vastly smaller than the corpus).
    The final top-k is an ``orderBy().limit()`` adjacency —
    TakeOrderedAndProject, a per-partition k-heap, never a global sort.

    Returns (bigram, c_ab, c_a, c_b, lift_micros), lift-desc, bigram-asc.
    """
    # ONE corpus scan: unigrams and bigrams leave the tokenizer in a single
    # labeled explode, so the (vocab-sized) count table is built without a
    # second pass over the text. The token array is let_-bound — the two
    # gram transforms reference it many times.
    def grams(ws: Column) -> Column:
        return F.concat(
            F.transform(ws, lambda w: F.struct(F.lit(1).alias("n"), w.alias("g"))),
            F.transform(
                word_ngrams(ws, 2),
                lambda g: F.struct(F.lit(2).alias("n"), g.alias("g")),
            ),
        )

    # CPU-bound tokenize+explode inherits the parquet split count
    # (PERF_NOTES #8): a small-file corpus would run the heavy stage on
    # 1-2 cores. Measured at sf1: 4.5 s -> 1.6 s with the spread.
    df = spread(df)
    counts = (
        df.select(
            F.explode_outer(
                let_(tokens(F.col(text_col)), grams)
            ).alias("__g")
        )
        .filter(F.col("__g").isNotNull())
        .groupBy(F.col("__g.n").alias("n"), F.col("__g.g").alias("g"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Three consumers (uni / n_total / bg): without a cut, Catalyst pushes
    # each branch's n== filter BELOW the aggregation and specializes three
    # full corpus scans (no ReuseExchange once the subtrees differ — the
    # pushdown-specialization corollary of PERF_NOTES #7). The lazy local
    # checkpoint pins the vocab-sized count table: ONE scan + tokenize
    # serves all branches.
    counts = counts.localCheckpoint(eager=False)
    uni = counts.filter(F.col("n") == 1).select("g", "c").withColumnRenamed("g", "w")
    n_total = uni.agg(F.sum("c").alias("n_total"))
    bg = (
        counts.filter((F.col("n") == 2) & (F.col("c") >= min_count))
        .select(F.col("g").alias("bigram"), F.col("c").alias("c_ab"))
    )
    scored = (
        bg.withColumn("__w1", F.split("bigram", " ").getItem(0))
        .withColumn("__w2", F.split("bigram", " ").getItem(1))
        .join(uni.select(F.col("w").alias("__w1"), F.col("c").alias("c_a")), "__w1")
        .join(uni.select(F.col("w").alias("__w2"), F.col("c").alias("c_b")), "__w2")
        .crossJoin(F.broadcast(n_total))
        .withColumn(
            # DECIMAL(38,0) intermediates: the numerator reaches ~5.6e23 at
            # the sf100 decade (1e6 x c_ab x N with stopword-scale counts),
            # overflowing int64 — the round-7 sf100 sweep caught it live.
            # Decimal multiply is exact below 38 digits and `div` on
            # decimals returns the exact BIGINT quotient, so every value
            # at every prior gate scale is bit-identical to the int64 form
            # (oracle mirrors with HUGEINT).
            "lift_micros",
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * c_ab * n_total)"
                " div (CAST(c_a AS DECIMAL(38,0)) * c_b)"
            ),
        )
    )
    return (
        scored.select("bigram", "c_ab", "c_a", "c_b", "lift_micros")
        .orderBy(F.col("lift_micros").desc(), "bigram")
        .limit(k)
    )


def repetition_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top2_max_micros: int = 200_000,
    dup3_max_micros: int = 300_000,
) -> DataFrame:
    """Gopher repetition filters (Rae et al. 2021 A1.1, the n-gram half
    that ``gopher_quality_rules`` doesn't cover): per document,

    - ``top_bigram_frac_micros`` — fraction of token characters inside
      occurrences of the MOST frequent bigram (count-desc, bigram-asc
      deterministic tiebreak),
    - ``dup_trigram_frac_micros`` — fraction of token characters inside
      occurrences of trigrams appearing >= 2 times (occurrence-weighted:
      overlapping occurrences each count, the standard simplification of
      the paper's char-position dedup, so the value may exceed 1e6).

    Char mass of an n-gram is ``length(gram) - (n-1)`` (the joining
    spaces subtracted); denominators are the document's total token
    chars. All ratios integer micro-units (knife-edge discipline).

    Shape at scale (round-6 rewrite): the statistic is PER-DOCUMENT, so
    it never needed a shuffle — each doc's bigram/trigram run counts
    come from one array_sort + one aggregate() fold over its own grams,
    a pure narrow projection. ZERO Exchange, zero checkpoint, O(doc)
    state per row: the previous labeled-explode form shuffled one row
    per gram (~2B rows at the sf100 decade) and overran both a 24-80 GB
    heap and a 56 GB /tmp; the narrow form measures the SAME wall time
    at sf10 (25.9 s vs 25.5 s — the fold is interpreted but the explode
    paid for itself in shuffle IO) and is disk-free at every scale.

    Tiebreak correctness: the fold runs over the SORTED bigram array, so
    runs arrive in ascending string order and only a STRICTLY longer run
    replaces the incumbent — the kept winner is exactly the min-string
    among max-count bigrams, matching the SQL oracle's
    (count desc, bigram asc) order.

    Returns (id, n_words, tok_chars, top_bigram, top_bigram_frac_micros,
    dup_trigram_frac_micros, rep_top2_ok, rep_dup3_ok,
    passes_repetition); docs with < 2 tokens have NULL top_bigram and
    zero fractions.
    """
    # CPU-bound narrow fold: spread across cores even when the source is
    # one input split
    df = spread(df)

    def build(w: Column) -> Column:
        bg = F.array_sort(word_ngrams(w, 2))
        tg = F.array_sort(word_ngrams(w, 3))
        # bigram argmax fold: (prev, run, best, bc) over the sorted array
        bstate = F.aggregate(
            bg,
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).cast("int").alias("run"),
                F.lit(None).cast("string").alias("best"),
                F.lit(0).cast("int").alias("bc"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.when(
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                        F.lit(1)
                    )
                    > acc["bc"],
                    x,
                )
                .otherwise(acc["best"])
                .alias("best"),
                F.greatest(
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                        F.lit(1)
                    ),
                    acc["bc"],
                ).alias("bc"),
            ),
        )
        # duplicated-trigram char mass: a run reaching 2 contributes the
        # first occurrence retroactively (2x), each further one 1x —
        # total c * (len - 2) per trigram with c >= 2
        tstate = F.aggregate(
            tg,
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).cast("int").alias("run"),
                F.lit(0).cast("bigint").alias("mass"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                (
                    acc["mass"]
                    + F.when(
                        (x == acc["prev"]) & (acc["run"] + 1 == 2),
                        (F.length(x) - 2).cast("bigint") * 2,
                    )
                    .when(
                        (x == acc["prev"]) & (acc["run"] + 1 > 2),
                        (F.length(x) - 2).cast("bigint"),
                    )
                    .otherwise(F.lit(0))
                ).alias("mass"),
            ),
        )
        return F.struct(
            F.size(w).cast("int").alias("n_words"),
            F.aggregate(
                w, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x)
            ).alias("tok_chars"),
            bstate["best"].alias("top_bigram"),
            bstate["bc"].cast("bigint").alias("top_cnt"),
            tstate["mass"].alias("dup3_chars"),
        )

    r = df.select(
        F.col(id_col).alias("__id"),
        let_(tokens(F.col(text_col)), build).alias("__r"),
    ).select("__id", "__r.*")
    tc = F.col("tok_chars")
    top2_chars = F.col("top_cnt") * (F.length("top_bigram") - 1)
    top_frac = F.when(
        F.col("top_bigram").isNull() | (tc == 0), F.lit(0).cast("bigint")
    ).otherwise(
        F.floor((F.lit(1_000_000) * top2_chars) / tc + F.lit(0.5))
    )
    dup_frac = F.when(
        tc == 0, F.lit(0).cast("bigint")
    ).otherwise(
        F.floor(
            (F.lit(1_000_000) * F.col("dup3_chars")) / tc + F.lit(0.5)
        )
    )
    out = r.withColumn("top_bigram_frac_micros", top_frac).withColumn(
        "dup_trigram_frac_micros", dup_frac
    )
    rep2_ok = F.col("top_bigram_frac_micros") <= top2_max_micros
    rep3_ok = F.col("dup_trigram_frac_micros") <= dup3_max_micros
    return out.select(
        F.col("__id").alias(id_col),
        "n_words",
        "tok_chars",
        "top_bigram",
        "top_bigram_frac_micros",
        "dup_trigram_frac_micros",
        rep2_ok.alias("rep_top2_ok"),
        rep3_ok.alias("rep_dup3_ok"),
        (rep2_ok & rep3_ok).alias("passes_repetition"),
    )


def vocab_oov_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 16,
) -> DataFrame:
    """Tokenizer-vocabulary coverage QA: build the top-``vocab_size``
    corpus vocabulary (count-desc, word-asc tiebreak — deterministic at
    the boundary) and report each document's out-of-vocabulary token
    count and rate. The standard pre-tokenizer-training sanity check:
    a vocab/corpus mismatch (wrong language mix, mojibake, markup blow-
    up) shows up as an OOV spike before any GPU time is spent.

    Shape at scale: ONE corpus scan into a (doc, word) count table
    (map-side combinable), localCheckpoint-cut for its three consumers
    (per-doc totals / vocabulary argmax / OOV anti-join — the PERF_NOTES
    7b pushdown-specialization fix); the vocabulary is
    ``orderBy().limit()`` = TakeOrderedAndProject and rides back as a
    broadcast for the anti-join, so nothing corpus-sized shuffles twice.

    Returns (id, n_tokens, n_oov, oov_rate_micros); zero-token docs get
    all zeros.
    """
    df = spread(df)
    dt = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode_outer(tokens(F.col(text_col))).alias("w"),
        )
        .groupBy("__id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    vocab = (
        dt.filter(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.sum("c").alias("__sc"))
        .orderBy(F.col("__sc").desc(), "w")
        .limit(vocab_size)
        .select("w")
    )
    per_doc = dt.groupBy("__id").agg(
        F.sum(F.when(F.col("w").isNotNull(), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_tokens")
    )
    oov = (
        dt.filter(F.col("w").isNotNull())
        .join(F.broadcast(vocab), "w", "left_anti")
        .groupBy("__id")
        .agg(F.sum("c").cast("bigint").alias("n_oov"))
    )
    out = per_doc.join(oov, "__id", "left").withColumn(
        "n_oov", F.coalesce(F.col("n_oov"), F.lit(0).cast("bigint"))
    )
    rate = F.when(F.col("n_tokens") == 0, F.lit(0).cast("bigint")).otherwise(
        F.floor((F.lit(1_000_000) * F.col("n_oov")) / F.col("n_tokens") + F.lit(0.5))
    )
    return out.select(
        F.col("__id").alias(id_col),
        "n_tokens",
        "n_oov",
        rate.alias("oov_rate_micros"),
    )


def _default_classifier_weights(n_buckets: int, seed: str) -> list[int]:
    """Deterministic stand-in weight table for the hashed linear
    classifier: ``weight[b] = md5("{seed}:{b}")[:8] % 2_000_001 -
    1_000_000`` micro-units, i.e. uniform in [-1.0, +1.0]. Content-
    addressed so any engine (or the SQL oracle) can re-derive the exact
    table — this is what stands in for shipped model weights in an
    environment that can't carry a real fastText binary."""
    import hashlib

    return [
        int(hashlib.md5(f"{seed}:{b}".encode()).hexdigest()[:8], 16)
        % 2_000_001
        - 1_000_000
        for b in range(n_buckets)
    ]


def hashed_linear_classifier(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 128,
    weights_micros: list[int] | None = None,
    weight_seed: str = "w",
    threshold_micros: int = 0,
) -> DataFrame:
    """fastText-style hashed linear quality classifier (Joulin et al.
    2016), the filter CCNet / LLaMA-class pipelines run over every
    candidate document: hash each token into ``n_buckets`` feature
    buckets, score the document as the sum of per-bucket weights, and
    keep it when the mean token weight clears ``threshold_micros``.

    Weights are integer MICRO-UNITS (pass real trained weights via
    ``weights_micros``; the default table is content-addressed from
    ``weight_seed`` so oracles can re-derive it), and the score is an
    exact BIGINT sum — no float enters the compare, so partial-agg
    combine order can never flip a keep decision (the repo's knife-edge
    discipline). The mean-threshold test is division-free:
    ``score >= threshold * n_tokens``.

    Shape at scale: a PURE NARROW MAP — the token array never explodes,
    the score folds inside one JVM ``aggregate`` HOF per row, and the
    128-entry weight table is a plan literal (one ``F.expr`` parse, the
    PERF_NOTES §5 py4j idiom). Zero Exchange at any corpus size; this is
    the cheapest possible shape for a 100 TB classifier pass.

    Returns (id, n_tokens, score_micros, keep).
    """
    if weights_micros is None:
        weights_micros = _default_classifier_weights(n_buckets, weight_seed)
    if len(weights_micros) != n_buckets:
        # must fail fast even under `python -O` (assert is stripped): a
        # wrong-length table would mis-score silently via element_at
        # wraparound/NULLs instead of erroring.
        raise ValueError(
            f"weights_micros has {len(weights_micros)} entries, "
            f"expected n_buckets={n_buckets}"
        )
    wtab = F.expr(
        "array(" + ",".join(f"{w}L" for w in weights_micros) + ")"
    )
    # NULL text must score like an empty doc (0 tokens, 0 score, kept) —
    # the oracle's LEFT JOIN + coalesce shape; without this, NULL
    # propagates through size/aggregate and the keep flag goes NULL,
    # breaking n_keep + n_drop == n_docs in the streaming funnel.
    d = df.withColumn(
        "__ws", tokens(F.coalesce(F.col(text_col), F.lit("")))
    )
    d = d.withColumn("n_tokens", F.size("__ws").cast("bigint")).withColumn(
        "score_micros",
        F.aggregate(
            F.col("__ws"),
            F.lit(0).cast("bigint"),
            lambda acc, t: acc
            + F.element_at(
                wtab,
                (
                    F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
                    % n_buckets
                    + 1
                ).cast("int"),
            ),
        ),
    )
    keep = F.col("score_micros") >= F.lit(threshold_micros) * F.col("n_tokens")
    return d.select(
        F.col(id_col),
        "n_tokens",
        "score_micros",
        keep.alias("keep"),
    )
