"""Text analysis operators for training-data pipelines.

Extensions beyond the reference (SURVEY.md §7 phase 9): language-ID
heuristic, quality scoring, token counting, document fingerprinting.
All built-in column expressions — no Python in the row path — so they
compose with filters/aggregations under whole-stage codegen.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

# tiny per-language stopword lists for the n-gram/stopword heuristic;
# deliberately small + deterministic (a real model is out of scope)
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "des", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "de", "que", "en"],
}


def tokens(text) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def token_count(text) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text) -> Column:
    """BPE-approximating token count: word-piece regex splits on word
    boundaries, digits, and punctuation (a public heuristic: ~chars/4
    for English; we count regex pieces)."""
    c = F.col(text) if isinstance(text, str) else text
    pieces = F.filter(
        F.split(c, r"(?=[A-Z])|(?<=[^A-Za-z0-9])|(?=[^A-Za-z0-9])"),
        lambda t: t != "",
    )
    return F.size(pieces)


def quality_features(df: DataFrame, text: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio features + a composite
    quality score in [0,1]. Everything codegen'd."""
    c = F.col(text)
    toks = tokens(text)
    n_tok = F.size(toks)
    n_chars = F.length(c)
    mean_word_len = F.when(n_tok > 0, n_chars / n_tok).otherwise(F.lit(0.0))
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    sw = F.array(*[F.lit(w) for w in _STOPWORDS["en"]])
    stop_ratio = F.when(
        n_tok > 0, F.size(F.filter(toks, lambda t: F.array_contains(sw, t))) / n_tok
    ).otherwise(F.lit(0.0))
    uniq_ratio = F.when(n_tok > 0, F.size(F.array_distinct(toks)) / n_tok).otherwise(F.lit(0.0))
    score = (
        F.least(n_tok / F.lit(64.0), F.lit(1.0)) * 0.25
        + (F.lit(1.0) - F.least(punct_ratio * 5.0, F.lit(1.0))) * 0.25
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.25
        + uniq_ratio * 0.25
    )
    return df.select(
        "*",
        n_tok.alias("n_tokens"),
        n_chars.alias("len_chars"),
        mean_word_len.alias("mean_word_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        uniq_ratio.alias("unique_token_ratio"),
        score.alias("quality_score"),
    )


def lang_votes(text) -> dict[str, Column]:
    """Stopword-overlap vote count per language (token containment)."""
    toks = tokens(text)
    out = {}
    for lang, words in _STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return out


def lang_id(df: DataFrame, text: str = "text", out: str = "lang_pred") -> DataFrame:
    """Stopword-vote language ID. Deterministic tie policy: languages are
    checked in fixed order (en, de, fr, es); the first with the maximal
    vote count (and > 0) wins; no votes -> 'und'. The when-cascade is a
    plain CASE expression — SQL-mirrorable for the oracle."""
    votes = lang_votes(F.col(text))
    order = list(_STOPWORDS)
    cascade = None
    for lang in order:
        v = votes[lang]
        cond = (v > 0) & reduce(
            lambda a, b: a & b, [v >= votes[o] for o in order if o != lang], F.lit(True)
        )
        cascade = F.when(cond, F.lit(lang)) if cascade is None else cascade.when(cond, F.lit(lang))
    pred = cascade.otherwise(F.lit("und"))
    return df.withColumn(out, pred)


def fingerprint(df: DataFrame, text: str = "text", out: str = "fingerprint") -> DataFrame:
    """Content-defined fingerprint: xxhash64 of the normalized token
    stream (case/whitespace-insensitive rolling-hash analog); equal
    fingerprints = dedup-equivalent documents."""
    norm = F.concat_ws(" ", tokens(text))
    return df.withColumn(out, F.xxhash64(norm))


# ---------------------------------------------------------------------------
# repetition / quality-gate / PII operators (training-data pipeline tier)
# ---------------------------------------------------------------------------
def repetition_stats(
    df: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document:

    - ``n_words``: token count
    - ``dup_word_frac``: 1 - distinct/total words (word-level repetition)
    - ``top_bigram_frac``: occurrences of the most frequent adjacent
      word pair / total pairs (0.0 below 2 words)

    Scale shape: per-doc word stats are pure HOFs (no shuffle); the
    top-bigram count uses explode + groupBy(doc, bigram) + max — one
    shuffle keyed on (doc, bigram), never an O(words^2) per-row HOF
    scan, so a 10k-word document costs 10k shuffle rows, not 1e8 lambda
    evaluations."""
    toks = tokens(text)
    n_words = F.size(toks)
    base = df.select(
        id_col,
        n_words.alias("n_words"),
        F.when(
            n_words > 0,
            F.lit(1.0) - F.size(F.array_distinct(toks)) / n_words,
        ).otherwise(F.lit(0.0)).alias("dup_word_frac"),
    )
    seg = df.select(
        id_col,
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.zip_with(
                    F.slice(toks, 1, F.size(toks) - 1),
                    F.slice(toks, 2, F.size(toks) - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bg"),
    )
    top = (
        seg.groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("total_bg"))
    )
    out = base.join(top, id_col, "left")
    return out.select(
        id_col,
        "n_words",
        "dup_word_frac",
        F.when(
            F.col("total_bg").isNotNull() & (F.col("total_bg") > 0),
            F.col("top_c") / F.col("total_bg"),
        ).otherwise(F.lit(0.0)).alias("top_bigram_frac"),
    )


def gopher_flags(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_dup_word_frac: float = 0.5,
    max_top_bigram_frac: float = 0.15,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher-rule quality gate (public heuristics from the Gopher /
    MassiveText filtering recipe): per-doc boolean flags + the composite
    ``kept``. Thresholds are parameters; defaults are tuned to the
    public recipe's spirit, not its exact corpus-specific values."""
    toks = tokens(text)
    n_words = F.size(toks)
    mean_wl = F.when(
        n_words > 0,
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / n_words,
    ).otherwise(F.lit(0.0))
    sw = F.array(*[F.lit(w) for w in _STOPWORDS["en"]])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    rep = repetition_stats(df, text, id_col)
    flagged = df.select(
        id_col,
        ((n_words >= min_words) & (n_words <= max_words)).alias("words_ok"),
        ((mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)).alias("word_len_ok"),
        (stop_hits >= min_stopword_hits).alias("stopwords_ok"),
    ).join(
        rep.select(
            id_col,
            (F.col("dup_word_frac") <= max_dup_word_frac).alias("repetition_ok"),
            (F.col("top_bigram_frac") <= max_top_bigram_frac).alias("bigram_ok"),
        ),
        id_col,
    )
    return flagged.withColumn(
        "kept",
        F.col("words_ok") & F.col("word_len_ok") & F.col("stopwords_ok")
        & F.col("repetition_ok") & F.col("bigram_ok"),
    )


# RE2-compatible (and java.util.regex-compatible) patterns so the DuckDB
# oracle matches byte-for-byte: no lookaround, ASCII word boundaries
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_scan(df: DataFrame, text: str = "text") -> DataFrame:
    """Per-document PII occurrence counts (email / NANP-style phone /
    IPv4), pure regexp_count — codegen'd, no Python."""
    c = F.col(text)
    out = df
    for kind, pat in PII_PATTERNS.items():
        out = out.withColumn(f"n_{kind}", F.regexp_count(c, F.lit(pat)))
    return out


def redact_pii(df: DataFrame, text: str = "text", out: str = "redacted") -> DataFrame:
    """Replace PII matches with typed placeholders. Email first: the
    phone/ip patterns cannot match inside an already-redacted token."""
    c = F.col(text)
    for kind, pat in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, f"<{kind.upper()}>")
    return df.withColumn(out, c)


def linear_score(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bias: float = 0.0,
    out: str = "prob",
) -> DataFrame:
    """Vocabulary linear classifier (the fastText-style shallow scorer
    used for model-based corpus quality filtering): mean matched token
    weight plus bias through a logistic link. ``weights`` is a
    vocabulary-sized (term, weight) frame — broadcast onto the exploded
    token stream, so the plan is one explode, one hash join against the
    broadcast vocabulary, and one groupBy shuffle on the doc id.
    Unmatched tokens contribute zero (out-of-vocabulary)."""
    tok = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    hit = tok.join(F.broadcast(weights), "term").groupBy(id_col).agg(
        F.sum("weight").alias("_s")
    )
    base = docs.select(F.col(id_col), token_count(text_col).alias("n_tokens"))
    z = F.coalesce(F.col("_s"), F.lit(0.0)) / F.greatest(
        F.col("n_tokens"), F.lit(1)
    ) + F.lit(float(bias))
    return base.join(hit, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias(out),
    )


def logreg_train(
    docs: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: list[str] | None = None,
    vocab_size: int = 256,
    epochs: int = 3,
    lr: float = 1.0,
    init_bias: float = 0.0,
) -> tuple[dict[str, float], float]:
    """Distributed logistic-regression TRAINING for the vocabulary
    linear classifier — fits the (term -> weight) table and bias that
    :func:`linear_score` / :func:`linear_score_stateless` consume, on
    the SAME feature contract they score with: x_j = count of vocab
    term j in the doc / n_tokens (all whitespace tokens, matched or
    not), p = sigmoid(w.x + b). This is the Wiki-vs-crawl quality-model
    fit a real curation pipeline runs on-cluster before model-based
    filtering.

    Full-batch gradient descent, DETERMINISTIC by construction: no
    RNG anywhere (weights start at zero, the vocabulary is top-df with
    ties broken by term), fixed ``epochs``. The per-epoch input is ONE
    persisted per-doc frame (doc id, label, token count, and the doc's
    vocab-term counts as an _ti-sorted struct array), so each epoch is
    a SINGLE job with a single vocabulary-bounded shuffle (r14; the
    previous shape paid two jobs and ~4 exchanges per epoch — scores
    groupBy, errs join, then a feats⋈errs join + term groupBy): the
    per-doc score folds the current weights in as a broadcast LITERAL
    ARRAY over the feature structs (join-free, shuffle-free), the
    logistic error attaches in the same projection, and one explode +
    groupBy on the term index — with a sentinel index -1 carrying the
    bias gradient — yields every gradient component in one
    vocabulary-sized collect. The driver update stays
    w -= lr * grad / n_docs. Nothing scales with the corpus except
    that one map-side-combined shuffle.

    ``vocab``: explicit term list, or None to take the ``vocab_size``
    highest-document-frequency terms (ties by term ascending).
    Returns ``(weights, bias)`` ready for
    ``linear_score_stateless(docs, weights, bias=bias)``.
    """
    y = F.col(label_col).cast("double")
    # tokenize ONCE: every downstream pass (vocab df ranking, feature
    # counts, per-doc frame) reads the persisted token arrays instead
    # of re-running the regex split per consumer
    base = docs.select(
        F.col(id_col), y.alias("_y"), token_count(text_col).alias("_n"),
        tokens(text_col).alias("_toks"),
    ).persist()
    try:
        if vocab is None:
            df_counts = (
                base.select(F.col(id_col), F.explode("_toks").alias("term"))
                .groupBy("term")
                .agg(F.count_distinct(id_col).alias("df"))
                .orderBy(F.col("df").desc(), F.col("term").asc())
                .limit(vocab_size)
            )
            vocab = [r["term"] for r in df_counts.collect()]
        if not vocab:
            raise ValueError("logreg_train: empty vocabulary")
        # map terms to dense indices at the source so every epoch works
        # on integers; _fs is array_sort'ed so the per-doc score fold
        # order is a pure function of the data (collect_list alone
        # would inherit shuffle arrival order)
        imap = F.create_map(
            *[F.lit(x) for i, t in enumerate(vocab) for x in (t, i)]
        )
        fcounts = (
            base.select(F.col(id_col), F.explode("_toks").alias("term"))
            .select(F.col(id_col), F.element_at(imap, F.col("term")).alias("_ti"))
            .where(F.col("_ti").isNotNull())
            .groupBy(id_col, "_ti")
            .agg(F.count(F.lit(1)).cast("double").alias("_cnt"))
            .groupBy(id_col)
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_ti"), F.col("_cnt")))
                ).alias("_fs")
            )
        )
        # keep featless docs: they still carry bias gradient
        pergrp = (
            base.select(F.col(id_col), "_y", "_n")
            .join(fcounts, id_col, "left")
            .select(
                "_y",
                "_n",
                F.coalesce(
                    "_fs",
                    F.array().cast("array<struct<_ti:int,_cnt:double>>"),
                ).alias("_fs"),
            )
        ).persist()
        n_docs = pergrp.count()
        if n_docs == 0:
            raise ValueError("logreg_train: empty training input")

        w = {t: 0.0 for t in vocab}
        b = float(init_bias)
        try:
            inv_n = F.lit(1.0) / F.greatest(F.col("_n"), F.lit(1))
            for _ in range(epochs):
                warr = F.array(*[F.lit(w[t]) for t in vocab])
                s = F.aggregate(
                    "_fs",
                    F.lit(0.0),
                    lambda acc, x: acc
                    + F.element_at(warr, x["_ti"] + 1) * x["_cnt"],
                )
                z = s / F.greatest(F.col("_n"), F.lit(1)) + F.lit(b)
                g = F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - F.col("_y")
                contribs = F.concat(
                    F.array(
                        F.struct(
                            F.lit(-1).alias("_ti"), F.col("_g").alias("_v")
                        )
                    ),
                    F.transform(
                        "_fs",
                        lambda x: F.struct(
                            x["_ti"].alias("_ti"),
                            (F.col("_g") * x["_cnt"] * inv_n).alias("_v"),
                        ),
                    ),
                )
                grad_rows = (
                    pergrp.withColumn("_g", g)
                    .select(F.explode(contribs).alias("c"))
                    .groupBy(F.col("c._ti").alias("_ti"))
                    .agg(F.sum("c._v").alias("g"))
                    .collect()
                )
                grads = {int(r["_ti"]): float(r["g"]) for r in grad_rows}
                for i, t in enumerate(vocab):
                    w[t] -= lr * grads.get(i, 0.0) / n_docs
                b -= lr * grads.get(-1, 0.0) / n_docs
        finally:
            pergrp.unpersist()
    finally:
        base.unpersist()
    return w, b


def logreg_train_hashed(
    docs: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    epochs: int = 3,
    lr: float = 1.0,
    l2: float = 0.0,
    init_bias: float = 0.0,
) -> tuple[list[float], float]:
    """Feature-HASHED logistic-regression training (the hashing trick,
    Weinberger et al. ICML'09) — the web-scale form of
    :func:`logreg_train`: features are ``x_j = count of tokens hashing
    to bucket j / n_tokens`` with ``j = xxhash64(token) mod n_buckets``,
    so NOTHING is collected that scales with the data — no vocabulary
    derivation, no driver-side term list; the model is a fixed-size
    weight vector regardless of corpus size (collisions are the
    documented trade). Same deterministic full-batch GD (zero init, no
    RNG), two aggregate passes per epoch (per-doc error via a broadcast
    bucket-weight join; per-bucket gradient map-side-combined down to
    ``n_buckets`` rows), plus optional L2 (``w -= lr*(grad/n + l2*w)``;
    bias unregularized). Returns ``(weights, bias)`` for
    :func:`linear_score_hashed`."""
    spark = docs.sparkSession
    y = F.col(label_col).cast("double")
    base = docs.select(
        F.col(id_col), y.alias("_y"), token_count(text_col).alias("_n"),
        tokens(text_col).alias("_toks"),
    )
    feats = (
        base.select(F.col(id_col), "_y", "_n", F.explode("_toks").alias("term"))
        .select(
            F.col(id_col), "_y", "_n",
            F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("bucket"),
        )
        .groupBy(id_col, "_y", "_n", "bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("_cnt"))
    ).persist()
    perdoc = base.select(F.col(id_col), "_y", "_n").persist()
    n_docs = perdoc.count()
    if n_docs == 0:
        perdoc.unpersist()
        feats.unpersist()
        raise ValueError("logreg_train_hashed: empty training input")

    w = [0.0] * n_buckets
    b = float(init_bias)
    try:
        for _ in range(epochs):
            w_df = local_frame(spark, list(enumerate(w)), "bucket int, _w double")
            scores = (
                feats.join(F.broadcast(w_df), "bucket")
                .groupBy(id_col)
                .agg(F.sum(F.col("_w") * F.col("_cnt")).alias("_s"))
            )
            z = F.coalesce(F.col("_s"), F.lit(0.0)) / F.greatest(
                F.col("_n"), F.lit(1)
            ) + F.lit(b)
            errs = perdoc.join(scores, id_col, "left").select(
                F.col(id_col),
                (F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - F.col("_y")).alias("_g"),
            ).persist()
            grad_b = errs.agg(F.sum("_g")).first()[0] or 0.0
            grad_rows = (
                feats.join(errs, id_col)
                .groupBy("bucket")
                .agg(
                    F.sum(
                        F.col("_g") * F.col("_cnt") / F.greatest(F.col("_n"), F.lit(1))
                    ).alias("g")
                )
                .collect()
            )
            errs.unpersist()
            grad = {r["bucket"]: float(r["g"]) for r in grad_rows}
            w = [
                wj - lr * (grad.get(j, 0.0) / n_docs + l2 * wj)
                for j, wj in enumerate(w)
            ]
            b -= lr * float(grad_b) / n_docs
    finally:
        feats.unpersist()
        perdoc.unpersist()
    return w, b


def linear_score_hashed(
    docs: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    out: str = "prob",
) -> DataFrame:
    """Score with a :func:`logreg_train_hashed` model: ONE per-row
    expression — each token hashes to its bucket and indexes the
    weight-vector literal, summed by an in-row aggregate — no explode,
    no join, no aggregation, so it runs unchanged on a readStream frame
    in append mode (the model is fixed-size by construction, so the
    literal never grows with the data)."""
    if not weights:
        raise ValueError("weights must be a non-empty list")
    warr = F.array(*[F.lit(float(x)) for x in weights])
    nb = len(weights)
    t = tokens(text_col)
    n = F.size(t)
    s = F.aggregate(
        t,
        F.lit(0.0),
        lambda acc, tok: acc
        + F.element_at(warr, F.pmod(F.xxhash64(tok), F.lit(nb)).cast("int") + F.lit(1)),
    )
    z = s / F.greatest(n, F.lit(1)) + F.lit(float(bias))
    return docs.select(
        F.col(id_col),
        n.alias("n_tokens"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias(out),
    )


def linear_score_stateless(
    docs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    text_col: str = "text",
    bias: float = 0.0,
    out: str = "prob",
) -> DataFrame:
    """Append-mode-safe variant of :func:`linear_score`: the vocabulary
    arrives as a plain dict and is folded into the plan as a literal
    map, so scoring is ONE per-row expression — no explode, no join, no
    aggregation — and therefore runs unchanged on a readStream frame in
    append mode (the same bounded-model trade as
    ``corpus.decontaminate_stateless``). Use the DataFrame-weights form
    when the vocabulary is too large to inline into the plan."""
    if not weights:
        raise ValueError("weights must be a non-empty {term: weight} dict")
    m = F.create_map(*[F.lit(x) for kv in sorted(weights.items()) for x in kv])
    t = tokens(text_col)
    n = F.size(t)
    s = F.aggregate(
        t,
        F.lit(0.0),
        lambda acc, tok: acc + F.coalesce(F.element_at(m, tok), F.lit(0.0)),
    )
    z = s / F.greatest(n, F.lit(1)) + F.lit(float(bias))
    return docs.select(
        F.col(id_col),
        n.alias("n_tokens"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias(out),
    )
