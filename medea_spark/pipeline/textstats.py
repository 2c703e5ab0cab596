"""Text-analysis operators for training-data pipelines.

All pure built-in `pyspark.sql.functions` expressions — JVM-side,
whole-stage-codegen, no Python in the hot path.  Each returns a column
or a DataFrame transformation usable at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from medea_spark.pipeline.decontaminate import _norm_tokens, word_ngrams

# A compact stopword list shared with oracle SQL (keep sorted + lowercase).
STOPWORDS = ("a", "an", "and", "in", "is", "of", "or", "the", "to")

# BPE-ish tokenization: alpha runs, digit runs, or single punctuation.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count_ws(col: Column | str) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def token_count_bpe(col: Column | str) -> Column:
    """Regex token count approximating a BPE pre-tokenizer's segments."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(TOKEN_REGEX))


def stopword_ratio(col: Column | str) -> Column:
    """Fraction of whitespace tokens that are stopwords."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(F.trim(F.lower(c)), r"\s+")
    stops = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    return F.round(stops / F.greatest(F.size(words), F.lit(1)), 6)


def punct_ratio(col: Column | str) -> Column:
    """Fraction of non-space characters that are punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    no_space = F.regexp_replace(c, r"\s", "")
    punct = F.length(F.regexp_replace(no_space, r"[A-Za-z0-9]", ""))
    return F.round(punct / F.greatest(F.length(no_space), F.lit(1)), 6)


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    reasonable stopword density (the classic C4-style filters, folded
    into one score so it can be thresholded in a single pass)."""
    c = F.col(col) if isinstance(col, str) else col
    n_tokens = token_count_ws(c)
    len_ok = (n_tokens >= 10) & (n_tokens <= 100_000)
    punct_ok = punct_ratio(c) <= 0.2
    stop_ok = stopword_ratio(c) >= 0.01
    return F.round(
        (len_ok.cast("double") + punct_ok.cast("double") + stop_ok.cast("double")) / 3.0,
        6,
    )


# Deterministic per-language marker words for the legacy keyword
# language-ID heuristic (kept as lang_id_keyword: the accuracy test
# demonstrates what the trigram model fixes).
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "que"),
}


def lang_id_keyword(col: Column | str) -> Column:
    """Legacy keyword-marker language guess; 'unknown' when no marker
    hits.  Ties break by the fixed language order en > de > fr > es.
    Superseded by the char-trigram :func:`lang_id` — this survives as
    the baseline its accuracy test beats."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(F.trim(F.lower(c)), r"\s+")
    expr = F.lit("unknown")
    for lang in reversed(list(LANG_MARKERS)):
        markers = LANG_MARKERS[lang]
        hits = F.size(F.filter(words, lambda w: w.isin(*markers)))
        expr = F.when(hits > 0, F.lit(lang)).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# Char-trigram language ID (Cavnar-Trenkle-style profiles, columnar).
#
# Seed texts are small public-domain samples (UDHR article 1 plus a few
# composed everyday sentences rich in each language's function words).
# The per-language profile is the top-K most frequent character
# trigrams of the normalized seed — computed once, driver-side, in pure
# Python; scoring is a JVM-columnar set overlap (array_intersect
# against a single literal array per language), so the hot path has no
# UDF and ONE literal node per language (the unrolled-expression
# compile-cost lesson from lsh_bucket).
# ---------------------------------------------------------------------------

_LANG_SEED_TEXTS = {
    "en": (
        "All human beings are born free and equal in dignity and rights. "
        "They are endowed with reason and conscience and should act towards "
        "one another in a spirit of brotherhood. "
        "This is the house that we built for the people of the town and it "
        "will be there when you come back in the morning with your friends."
    ),
    "de": (
        "Alle Menschen sind frei und gleich an Würde und Rechten geboren. "
        "Sie sind mit Vernunft und Gewissen begabt und sollen einander im "
        "Geist der Brüderlichkeit begegnen. "
        "Das ist das Haus, das wir für die Leute der Stadt gebaut haben, und "
        "es wird noch da sein, wenn du am Morgen mit deinen Freunden "
        "zurückkommst. Ich habe nicht gewusst, dass der Zug schon weg ist."
    ),
    "fr": (
        "Tous les êtres humains naissent libres et égaux en dignité et en "
        "droits. Ils sont doués de raison et de conscience et doivent agir "
        "les uns envers les autres dans un esprit de fraternité. "
        "C'est la maison que nous avons construite pour les gens de la ville "
        "et elle sera encore là quand tu reviendras le matin avec tes amis."
    ),
    "es": (
        "Todos los seres humanos nacen libres e iguales en dignidad y "
        "derechos y, dotados como están de razón y conciencia, deben "
        "comportarse fraternalmente los unos con los otros. "
        "Esta es la casa que construimos para la gente del pueblo y seguirá "
        "allí cuando vuelvas por la mañana con tus amigos. No sabía que el "
        "tren ya se había ido."
    ),
    "it": (
        "Tutti gli esseri umani nascono liberi ed eguali in dignità e "
        "diritti. Essi sono dotati di ragione e di coscienza e devono agire "
        "gli uni verso gli altri in spirito di fratellanza. "
        "Questa è la casa che abbiamo costruito per la gente della città e "
        "sarà ancora lì quando tornerai domattina con i tuoi amici. Non "
        "sapevo che il treno fosse già partito."
    ),
    "pt": (
        "Todos os seres humanos nascem livres e iguais em dignidade e em "
        "direitos. Dotados de razão e de consciência, devem agir uns para "
        "com os outros em espírito de fraternidade. "
        "Esta é a casa que construímos para as pessoas da cidade e ainda "
        "estará lá quando você voltar de manhã com os seus amigos. Eu não "
        "sabia que o trem já tinha partido."
    ),
    "nl": (
        "Alle mensen worden vrij en gelijk in waardigheid en rechten "
        "geboren. Zij zijn begiftigd met verstand en geweten, en behoren "
        "zich jegens elkander in een geest van broederschap te gedragen. "
        "Dit is het huis dat wij voor de mensen van de stad hebben gebouwd "
        "en het zal er nog zijn als je morgen met je vrienden terugkomt. Ik "
        "wist niet dat de trein al weg was."
    ),
}

# Declared order = deterministic tie-break priority.
LANG_ORDER = tuple(_LANG_SEED_TEXTS)

LANG_PROFILE_SIZE = 150
LANG_MIN_OVERLAP = 2  # below this the guess is "unknown"

_NORM_STRIP_RE = r"[^\p{L}\s]+"  # letters + whitespace only (RE2 & Java)


def _normalize_py(text: str) -> str:
    """Driver-side mirror of the columnar normalization (lower, strip
    non-letters, collapse whitespace, pad one space each side).
    ``isalpha()`` is exactly Unicode \\p{L}, matching the RE2/Java
    character class the columnar side uses."""
    import re

    kept = "".join(
        ch if ch.isalpha() or ch.isspace() else " " for ch in text.lower()
    )
    return " " + re.sub(r"\s+", " ", kept).strip() + " "


def _build_profiles() -> dict[str, tuple[str, ...]]:
    from collections import Counter

    profiles = {}
    for lang, seed in _LANG_SEED_TEXTS.items():
        t = _normalize_py(seed)
        counts = Counter(t[i : i + 3] for i in range(len(t) - 2))
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        profiles[lang] = tuple(tri for tri, _ in top[:LANG_PROFILE_SIZE])
    return profiles


LANG_PROFILES = _build_profiles()


def _normalized_padded(col: Column) -> Column:
    t = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), _NORM_STRIP_RE, " "), r"\s+", " "
        )
    )
    return F.concat(F.lit(" "), t, F.lit(" "))


def doc_trigrams(col: Column | str) -> Column:
    """Distinct character trigrams of the normalized text — the
    document side of the language-ID overlap (exported so tests and
    oracle generators share one definition).  ``sequence(1, 0)`` counts
    DOWN in Spark, hence the ``greatest`` guard for tiny inputs.

    The normalized text is LET-BOUND via a single-element array whose
    transform lambda receives it as a variable: capturing the raw
    normalization expression in the per-index lambda would re-run the
    double regexp once per trigram (interpreted-HOF capture, the
    CLAUDE.md lang_scores class) — O(chars²) regex work per document.
    A lambda variable is a cheap reference, so the normalization runs
    once per row even though this is a pure Column function with no
    DataFrame to stage a column on."""
    c = F.col(col) if isinstance(col, str) else col
    t = _normalized_padded(c)

    def grams(tv: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.length(tv) - 2, F.lit(1)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.substring(tv, i, F.lit(3)))
        )

    return F.element_at(F.transform(F.array(t), grams), 1)


def lang_scores(trigrams_col: Column | str) -> Column:
    """``array<int>`` of per-language trigram overlaps in ``LANG_ORDER``
    order, over a :func:`doc_trigrams` column.  ALL profiles live in
    one 2-D literal node and the scores come from a single
    ``transform`` lambda.

    Higher-order-function lambdas run INTERPRETED and Catalyst
    re-evaluates an expression per *reference* — including an outer
    expression CAPTURED inside a lambda, which re-runs once per array
    element.  Pass an attribute of an already-staged trigram column
    (see :func:`text_profile`) so the trigram pipeline runs once per
    row; handing this a raw ``doc_trigrams(text)`` expression works
    but pays 7× (once per language profile)."""
    tris = (
        trigrams_col if isinstance(trigrams_col, Column) else F.col(trigrams_col)
    )
    profiles = F.lit([list(LANG_PROFILES[lang]) for lang in LANG_ORDER])
    return F.transform(profiles, lambda p: F.size(F.array_intersect(tris, p)))


def lang_guess_from_scores(scores: Column) -> Column:
    """Argmax over a (cheap-to-reference) scores column:
    ``array_position`` returns the FIRST index of the max — exactly the
    declared-order tie-break; best < LANG_MIN_OVERLAP → 'unknown'."""
    best = F.array_max(scores)
    return F.when(best < LANG_MIN_OVERLAP, F.lit("unknown")).otherwise(
        F.element_at(
            F.lit(list(LANG_ORDER)), F.array_position(scores, best).cast("int")
        )
    )


def lang_id(col: Column | str) -> Column:
    """Char-trigram language guess as a single Column expression —
    convenient for ad-hoc use, but the trigram+scores subtree is
    re-evaluated per reference, so prefer the staged ``doc_trigrams``
    → ``lang_scores`` → ``lang_guess_from_scores`` split (as
    text_profile does) in hot paths."""
    return lang_guess_from_scores(lang_scores(doc_trigrams(col)))


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text — identical across engines (md5 is bit-stable everywhere)."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")
    return F.md5(normalized)


def text_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per document with every text statistic.

    The trigram array and the language scores are each staged as named
    columns so the interpreted-HOF pipeline runs once per row: a lambda
    CAPTURING the trigram expression re-runs it per profile element
    (7×), and the argmax references the scores three times.
    SPARK-36718 keeps CollapseProject from inlining expensive
    expressions referenced more than once, so the staged selects
    survive optimization."""
    c = F.col(text_col)
    staged = df.select(
        F.col(id_col), c.alias("_tp_text"), doc_trigrams(c).alias("_tp_tris")
    ).select(
        F.col(id_col),
        F.col("_tp_text"),
        # The second _tp_tris reference (n_trigrams below) is
        # load-bearing: with only the lambda-captured reference,
        # CollapseProject + column pruning merge the trigram projection
        # back INTO the lambda, where it re-runs once per profile
        # element (7×).  n_trigrams is also a genuinely useful lexical-
        # diversity stat (distinct trigrams of the normalized text).
        F.size(F.col("_tp_tris")).alias("n_trigrams"),
        lang_scores(F.col("_tp_tris")).alias("_tp_lang_scores"),
    )
    t = F.col("_tp_text")
    return staged.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        token_count_ws(t).alias("n_tokens_ws"),
        token_count_bpe(t).alias("n_tokens_bpe"),
        F.col("n_trigrams"),
        stopword_ratio(t).alias("stopword_ratio"),
        punct_ratio(t).alias("punct_ratio"),
        quality_score(t).alias("quality_score"),
        lang_guess_from_scores(F.col("_tp_lang_scores")).alias("lang_guess"),
        fingerprint(t).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters).
# ---------------------------------------------------------------------------

def _max_multiplicity(arr: Column) -> Column:
    """Highest multiplicity of any element — max run length of the
    sorted array, via one sequential ``aggregate`` fold (O(len) per
    row; interpreted like every HOF lambda, but each step is three
    scalar ops)."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(a, x):
        run = F.when(x.eqNullSafe(a["prev"]), a["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(a["best"], run).alias("best")
        )

    return F.aggregate(F.array_sort(arr), zero, step, lambda a: a["best"])


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, ns: tuple[int, ...] = (2, 3)
) -> DataFrame:
    """Per-document repetition signals (the Gopher/C4 quality-filter
    family), all columnar:

    * ``n_words`` — normalized word count
    * ``excess_word_fraction`` — (words - distinct words) / words:
      mass of repeated word occurrences
    * per n in ``ns``: ``top_{n}gram_fraction`` (occurrences of the
      single most frequent n-gram / all n-gram occurrences) and
      ``excess_{n}gram_fraction`` ((occurrences - distinct) / occurrences)

    Boilerplate-heavy or degenerate documents score high; a training
    pipeline drops rows above thresholds.  Every stat is an integer
    ratio in IEEE doubles, so SQL engines reproduce them bit-for-bit.
    Tokens and each n-gram multiset are staged as named columns so the
    interpreted fold runs once per row (the SPARK-36718 staging
    convention used across this module)."""
    c = F.col(text_col)
    staged = df.select(
        F.col(id_col), _norm_tokens(c).alias("_rw")
    ).select(
        F.col(id_col),
        F.size("_rw").alias("n_words"),
        F.size(F.array_distinct("_rw")).alias("_rw_distinct"),
        *[word_ngrams(F.col("_rw"), n).alias(f"_g{n}") for n in ns],
    )
    frac = lambda num, den: F.round(num / F.greatest(den, F.lit(1)), 6)
    out_cols = [
        F.col(id_col),
        F.col("n_words"),
        frac(F.col("n_words") - F.col("_rw_distinct"), F.col("n_words")).alias(
            "excess_word_fraction"
        ),
    ]
    for n in ns:
        g = F.col(f"_g{n}")
        out_cols.append(
            frac(_max_multiplicity(g), F.size(g)).alias(f"top_{n}gram_fraction")
        )
        out_cols.append(
            frac(F.size(g) - F.size(F.array_distinct(g)), F.size(g)).alias(
                f"excess_{n}gram_fraction"
            )
        )
    return staged.select(*out_cols)


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction.
# ---------------------------------------------------------------------------

def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_df: int = 1,
    max_df_fraction: float = 1.0,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by smoothed TF-IDF:
    ``score = tf · (ln((N+1)/(df+1)) + 1)``, ties broken by term
    (ascending, deterministic).  Output: (id, rank, term, tf, df, score).

    Corpus keyword profiling / cluster labeling for training data.
    Shape: one token explode (bounded by corpus token count), a
    term-keyed document-frequency aggregate joined back on the term
    (a skinny (term, df) relation — broadcastable for real
    vocabularies), and one per-document rank window — the only
    doc-keyed exchange.  ``min_df``/``max_df_fraction`` drop hapaxes
    and stopword-like terms before the window, which is also the skew
    guard: ubiquitous terms never reach the rank exchange.  Integer
    tf/df and IEEE ``ln`` make it engine-portable."""
    from pyspark.sql import Window

    toks = _norm_tokens(F.col(text_col))
    # The corpus size rides the plan as a one-row broadcast aggregate
    # instead of a separate eager df.count() job (round-5 verdict: one
    # fewer distributed count per call); same long value, same IEEE
    # arithmetic downstream.
    ndocs = df.agg(F.count(F.lit(1)).alias("_n_docs"))
    pairs = df.select(F.col(id_col), F.explode(toks).alias("term"))
    tf = pairs.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(ndocs))
        .filter(
            (F.col("df") >= min_df)
            & (F.col("df") <= F.lit(float(max_df_fraction)) * F.col("_n_docs"))
        )
    )
    scored = tf.join(F.broadcast(dfreq), "term").withColumn(
        "score",
        F.round(
            F.col("tf")
            * (F.log((F.col("_n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
            6,
        ),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "df", "score")
    )
