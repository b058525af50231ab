"""Text-analysis operators over the documents table.

Language-ID, quality scoring, token counting, and document
fingerprinting — the per-document scalar passes a training-data
pipeline runs before dedup/filtering. All JVM-side column algebra
(split/filter/aggregate over arrays); doubles are rounded at the edge
so Spark and DuckDB hash identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from onnxtr_spark.functions.hashing import hash64, hash64_sql, round_half_up, round_half_up_sql
from onnxtr_spark.partitioning import spread

EN_STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")
_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + ")"

def tokens():
    """Lazy Column: whitespace-split tokens of trimmed text."""
    return F.split(F.trim(F.col("text")), r"\s+")
_TOKENS_SQL = "string_split_regex(trim(text), '\\s+')"


# BPE-ish pretokenizer (the GPT-2-family regex, RE2-safe subset: no
# lookaheads): contraction suffixes, letter runs, digit runs, punct runs
# — each optionally preceded by one space. Token COUNT approximates the
# subword budget a tokenizer would see far better than whitespace count.
BPE_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+"
BPE_RE_SQL = BPE_RE.replace("'", "''")  # escaped for the SQL literal


def token_stats(documents: DataFrame) -> DataFrame:
    """Per-doc token counts: (doc_id, n_tokens, n_distinct, n_chars,
    avg_token_len, n_bpe_tokens) — whitespace tokens plus the BPE-ish
    regex pretokenization count."""
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(tokens()).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(tokens())).cast("long").alias("n_distinct"),
        F.length(F.trim("text")).cast("long").alias("n_chars"),
        round_half_up(
            F.aggregate(tokens(), F.lit(0.0), lambda acc, t: acc + F.length(t)) / F.size(tokens()), 4
        ).alias("avg_token_len"),
        F.size(F.regexp_extract_all(F.trim("text"), F.lit(BPE_RE), F.lit(0))).cast("long").alias("n_bpe_tokens"),
    )


TOKEN_STATS_SQL = f"""
SELECT doc_id,
       len({_TOKENS_SQL}) AS n_tokens,
       len(list_distinct({_TOKENS_SQL})) AS n_distinct,
       length(trim(text)) AS n_chars,
       {round_half_up_sql(f'list_sum([length(t)::DOUBLE for t in {_TOKENS_SQL}]) / len({_TOKENS_SQL})', 4)} AS avg_token_len,
       len(regexp_extract_all(trim(text), '{BPE_RE_SQL}')) AS n_bpe_tokens
FROM documents
"""


def quality_score(documents: DataFrame) -> DataFrame:
    """Heuristic document quality in [0,1]: length, stopword and
    mean-token-length components (the usual pre-training filters)."""
    toks = tokens()
    n = F.size(toks).cast("double")
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))).cast("double") / n
    mean_len = F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t)) / n
    score = (
        F.least(F.lit(1.0), n / 100.0) * 0.4
        + F.least(F.lit(1.0), stop_ratio * 5.0) * 0.3
        + F.least(F.lit(1.0), mean_len / 8.0) * 0.3
    )
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        round_half_up(stop_ratio, 4).alias("stopword_ratio"),
        round_half_up(score, 4).alias("quality"),
    )


QUALITY_SCORE_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
), m AS (
  SELECT doc_id,
         len(toks)::DOUBLE AS n,
         len(list_filter(toks, t -> t IN {_STOP_SQL}))::DOUBLE / len(toks)::DOUBLE AS stop_ratio,
         list_sum([length(t)::DOUBLE for t in toks]) / len(toks)::DOUBLE AS mean_len
  FROM t
)
SELECT doc_id,
       {round_half_up_sql('stop_ratio', 4)} AS stopword_ratio,
       {round_half_up_sql('''least(1.0, n / 100.0) * 0.4
             + least(1.0, stop_ratio * 5.0) * 0.3
             + least(1.0, mean_len / 8.0) * 0.3''', 4)} AS quality
FROM m
"""


# Gopher quality rules (Rae et al. 2021, Table A1): the published
# document-level filter battery most pre-training pipelines start from.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"


def gopher_rules(
    documents: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher's repetition-free quality gates as one column-algebra
    pass: word count in [min_words, max_words] (published: 50-100k),
    mean word length in [3, 10],
    symbol-to-word ratio (# / ellipsis) <= 0.1, <=90% of lines
    bullet-led, <=30% ellipsis-ended, >=80% of words containing a
    letter, and >=2 distinct stopwords present. Emits every measured
    ratio plus the conjunction, so downstream can re-threshold without
    re-scanning. All per-row expressions — embarrassingly parallel at
    any scale; thresholds compare UNROUNDED doubles whose fold order
    is identical in both engines (sequential list fold), rounding only
    in the output projection."""
    toks = tokens()
    n = F.size(toks).cast("long")
    nd = n.cast("double")
    mean_len = F.aggregate(toks, F.lit(0.0), lambda a, t: a + F.length(t)) / nd
    n_hash = F.length("text") - F.length(F.regexp_replace("text", r"#", ""))
    n_dots = (F.length("text") - F.length(F.regexp_replace("text", r"\.\.\.", ""))) / F.lit(3)
    n_hellip = F.length("text") - F.length(F.regexp_replace("text", r"…", ""))
    symbol_ratio = (n_hash + n_dots + n_hellip).cast("double") / nd
    lines = F.split(F.col("text"), "\n")
    nl = F.size(lines).cast("double")
    bullet_frac = (
        F.size(F.filter(lines, lambda l: F.ltrim(l).rlike(r"^[-*•]"))).cast("double") / nl
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"))).cast("double") / nl
    )
    alpha_frac = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double") / nd
    n_stop_hits = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]))
    ).cast("long")
    passes = (
        (n >= min_words) & (n <= max_words)
        & (mean_len >= 3.0) & (mean_len <= 10.0)
        & (symbol_ratio <= 0.1)
        & (bullet_frac <= 0.9)
        & (ellipsis_frac <= 0.3)
        & (alpha_frac >= 0.8)
        & (n_stop_hits >= min_stop_hits)
    )
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n.alias("n_words"),
        round_half_up(mean_len, 4).alias("mean_word_len"),
        round_half_up(symbol_ratio, 4).alias("symbol_ratio"),
        round_half_up(bullet_frac, 4).alias("bullet_frac"),
        round_half_up(ellipsis_frac, 4).alias("ellipsis_frac"),
        round_half_up(alpha_frac, 4).alias("alpha_frac"),
        n_stop_hits.alias("n_stop_hits"),
        passes.alias("passes"),
    )


def gopher_rules_sql(
    min_words: int = 50, max_words: int = 100_000, min_stop_hits: int = 2
) -> str:
    return f"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
         {_TOKENS_SQL} AS toks,
         string_split(text, chr(10)) AS lines
  FROM documents
), m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         list_sum([length(x)::DOUBLE for x in toks]) / len(toks)::DOUBLE AS mean_len,
         ((length(text) - length(replace(text, '#', '')))
          + (length(text) - length(replace(text, '...', ''))) / 3
          + (length(text) - length(replace(text, '…', ''))))::DOUBLE
           / len(toks)::DOUBLE AS symbol_ratio,
         len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*•]')))::DOUBLE
           / len(lines)::DOUBLE AS bullet_frac,
         len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))::DOUBLE
           / len(lines)::DOUBLE AS ellipsis_frac,
         len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
           / len(toks)::DOUBLE AS alpha_frac,
         len(list_intersect(list_distinct(toks), {_GOPHER_STOP_SQL})) AS n_stop_hits
  FROM t
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       {round_half_up_sql('mean_len', 4)} AS mean_word_len,
       {round_half_up_sql('symbol_ratio', 4)} AS symbol_ratio,
       {round_half_up_sql('bullet_frac', 4)} AS bullet_frac,
       {round_half_up_sql('ellipsis_frac', 4)} AS ellipsis_frac,
       {round_half_up_sql('alpha_frac', 4)} AS alpha_frac,
       CAST(n_stop_hits AS BIGINT) AS n_stop_hits,
       (n_words BETWEEN {min_words} AND {max_words})
         AND (mean_len BETWEEN 3.0 AND 10.0)
         AND (symbol_ratio <= 0.1)
         AND (bullet_frac <= 0.9)
         AND (ellipsis_frac <= 0.3)
         AND (alpha_frac >= 0.8)
         AND (n_stop_hits >= {min_stop_hits}) AS passes
FROM m
"""


GOPHER_RULES_SQL = gopher_rules_sql()


def lang_id_stopword(documents: DataFrame) -> DataFrame:
    """The round-1 stopword heuristic, kept as the cheap baseline the
    n-gram model is accuracy-tested against (it only knows English)."""
    toks = tokens()
    ratio = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))).cast("double") / F.size(toks)
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("unknown")).alias("pred_lang"),
    )


# ---------------------------------------------------------------------------
# N-gram language ID (Cavnar & Trenkle 1994, "N-Gram-Based Text
# Categorization"): rank a document's most frequent character trigrams
# and pick the language whose trained rank profile minimizes the
# out-of-place distance. The reference's optional language-detect pass
# (onnxtr/models/_utils.py:193-209 uses the langdetect package) is
# re-derived as this classic profile model so the whole classifier is
# declarative column algebra — exploe trigrams, one groupBy, one
# window rank, one broadcast join against the (tiny) profile table.
# All distances are INTEGER arithmetic (ranks + a fixed miss penalty),
# so the DuckDB oracle is bit-exact by construction.
# ---------------------------------------------------------------------------

# Letters kept by normalization (lowercased); everything else → space.
# Three ranges (basic Latin, Cyrillic а-яё, Greek ά-ώ = U+03AC..U+03CE,
# which spans all lowercase Greek incl. accented vowels and final
# sigma) plus the Latin-script extensions of the profile languages.
# Identical UTF-8 class semantics in Java regex (Spark) and RE2
# (DuckDB); the corpus itself is ASCII, so the oracle hash only
# exercises what both engines agree on.
_LETTERS = "a-zа-яёά-ώàâäãáåæçéèêëîïíìñóòôöøùûüúßąćęłńśźżğış"
_NORM_RE = f"[^{_LETTERS}]+"
PROFILE_SIZE = 200  # trigrams per language profile
DOC_TOP = 300  # document profile depth (CT use ~300)
MISS_PENALTY = PROFILE_SIZE  # out-of-place distance for an absent trigram
# matched-coverage gate: best language must match >=10% of the doc's
# top trigrams, else 'unknown' (CT has no reject; corpora do need one
# for scripts outside the profile set)
MIN_MATCH_NUM, MIN_MATCH_DEN = 1, 10

# Training snippets (self-authored everyday prose, a few sentences per
# language — profiles only need stable frequency ranks, not coverage).
TRAIN_SNIPPETS: dict[str, str] = {
    "en": (
        "the quick brown fox jumps over the lazy dog while the children "
        "watch from the garden and the morning light falls through the "
        "trees onto the quiet street where people walk to work and talk "
        "about the weather the news and the small things of their days"
    ),
    "fr": (
        "le petit garçon marche dans la rue avec sa mère et regarde les "
        "oiseaux qui chantent dans les arbres du jardin pendant que les "
        "gens parlent de la pluie et du beau temps devant la boulangerie "
        "où l'on achète le pain chaud du matin avant d'aller travailler"
    ),
    "de": (
        "der kleine junge geht mit seiner mutter durch die strasse und "
        "schaut den vögeln zu die in den bäumen des gartens singen "
        "während die leute vor der bäckerei über das wetter sprechen und "
        "das warme brot des morgens kaufen bevor sie zur arbeit gehen"
    ),
    "es": (
        "el niño pequeño camina por la calle con su madre y mira los "
        "pájaros que cantan en los árboles del jardín mientras la gente "
        "habla de la lluvia y del buen tiempo frente a la panadería donde "
        "se compra el pan caliente de la mañana antes de ir al trabajo "
        "por la tarde la familia se sienta alrededor de la mesa de la "
        "cocina y cuenta las historias del día mientras la cena se "
        "cocina en el fuego y el gato duerme junto a la ventana"
    ),
    "it": (
        "il bambino piccolo cammina per la strada con sua madre e guarda "
        "gli uccelli che cantano sugli alberi del giardino mentre la gente "
        "parla della pioggia e del bel tempo davanti al forno dove si "
        "compra il pane caldo del mattino prima di andare al lavoro "
        "la sera la famiglia si siede intorno al tavolo della cucina e "
        "racconta le storie della giornata mentre la cena cuoce sul fuoco"
    ),
    "pt": (
        "o menino pequeno caminha pela rua com a sua mãe e olha os "
        "pássaros que cantam nas árvores do jardim enquanto as pessoas "
        "falam da chuva e do bom tempo em frente à padaria onde se compra "
        "o pão quente da manhã antes de ir para o trabalho à noite a "
        "família senta se à volta da mesa da cozinha e conta as histórias "
        "do dia enquanto o jantar coze no fogo e o gato dorme na janela"
    ),
    "nl": (
        "de kleine jongen loopt met zijn moeder door de straat en kijkt "
        "naar de vogels die zingen in de bomen van de tuin terwijl de "
        "mensen voor de bakkerij over het weer praten en het warme brood "
        "van de ochtend kopen voordat ze naar het werk gaan in de avond "
        "zit het gezin rond de tafel van de keuken en vertelt de verhalen "
        "van de dag terwijl het eten op het vuur staat en de kat slaapt"
    ),
    "sv": (
        "den lilla pojken går med sin mor genom gatan och tittar på "
        "fåglarna som sjunger i trädgårdens träd medan folk pratar om "
        "vädret framför bageriet och köper morgonens varma bröd innan de "
        "går till arbetet på kvällen sitter familjen runt köksbordet och "
        "berättar dagens historier medan maten står på elden och katten "
        "sover vid fönstret i det lilla huset nära den gamla skolan"
    ),
    "da": (
        "den lille dreng går med sin mor gennem gaden og ser på fuglene "
        "der synger i havens træer mens folk taler om vejret foran "
        "bageriet og køber morgenens varme brød før de går på arbejde om "
        "aftenen sidder familien rundt om køkkenbordet og fortæller "
        "dagens historier mens maden står på ilden og katten sover ved "
        "vinduet i det lille hus ved siden af den gamle skole i byen"
    ),
    "pl": (
        "mały chłopiec idzie z matką przez ulicę i patrzy na ptaki które "
        "śpiewają na drzewach ogrodu podczas gdy ludzie rozmawiają o "
        "pogodzie przed piekarnią i kupują ciepły chleb poranka zanim "
        "pójdą do pracy wieczorem rodzina siedzi wokół stołu w kuchni i "
        "opowiada historie dnia podczas gdy kolacja gotuje się na ogniu "
        "a kot śpi przy oknie w małym domu obok starej szkoły w mieście"
    ),
    "tr": (
        "küçük çocuk annesiyle sokakta yürüyor ve bahçedeki ağaçlarda "
        "şarkı söyleyen kuşlara bakıyor insanlar fırının önünde hava "
        "hakkında konuşuyor ve işe gitmeden önce sabahın sıcak ekmeğini "
        "alıyor akşam aile mutfak masasının etrafında oturuyor ve günün "
        "hikayelerini anlatıyor yemek ateşte pişiyor ve kedi pencerenin "
        "yanında uyuyor eski okulun yanındaki küçük evde herkes mutlu"
    ),
    "ru": (
        "маленький мальчик идёт с матерью по улице и смотрит на птиц "
        "которые поют на деревьях сада пока люди говорят о погоде перед "
        "пекарней и покупают тёплый хлеб утра прежде чем идти на работу "
        "вечером семья сидит вокруг кухонного стола и рассказывает "
        "истории дня пока ужин готовится на огне и кот спит у окна в "
        "маленьком доме рядом со старой школой в тихом городе"
    ),
    "el": (
        "το μικρό αγόρι περπατά στον δρόμο με τη μητέρα του και κοιτάζει "
        "τα πουλιά που τραγουδούν στα δέντρα του κήπου ενώ οι άνθρωποι "
        "μιλούν για τον καιρό μπροστά στον φούρνο και αγοράζουν το ζεστό "
        "ψωμί του πρωινού πριν πάνε στη δουλειά το βράδυ η οικογένεια "
        "κάθεται γύρω από το τραπέζι της κουζίνας και λέει τις ιστορίες "
        "της ημέρας ενώ το φαγητό ψήνεται στη φωτιά και η γάτα κοιμάται"
    ),
}


def _norm_trigrams(text: str) -> list[str]:
    """Driver-side mirror of the column normalization + trigram
    extraction (used only to build profiles and in tests)."""
    import re

    norm = re.sub(_NORM_RE, " ", text.lower()).strip()
    out: list[str] = []
    for tok in norm.split(" "):
        if not tok:
            continue
        padded = f" {tok} "
        out.extend(padded[i : i + 3] for i in range(len(padded) - 2))
    return out


def build_profile(text: str, size: int = PROFILE_SIZE) -> dict[str, int]:
    """trigram -> rank (1-based), most frequent first; ties break on the
    trigram string so both engines derive identical tables."""
    from collections import Counter

    counts = Counter(_norm_trigrams(text))
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:size]
    return {t: r + 1 for r, (t, _) in enumerate(ranked)}


def _pack_py(tri: str) -> int:
    """Driver-side mirror of the column-side trigram packing."""
    a, b, c = (ord(ch) for ch in tri)
    return (a * 2048 + b) * 2048 + c


def _profile_rows() -> list[tuple[str, str, int]]:
    return [
        (lang, tri, rank)
        for lang in sorted(TRAIN_SNIPPETS)
        for tri, rank in sorted(build_profile(TRAIN_SNIPPETS[lang]).items())
    ]


def _top_trigrams_arrow():
    """Arrow-vectorized per-doc trigram profile: the ranked top-DOC_TOP
    packed trigrams of each text, as one pandas UDF.

    It replaced an interpreted-HOF JVM chain (3 substring+ascii per
    trigram inside nested transforms) on the hot path: profiling at
    80k docs put lang-ID at ~10.6 s of a 15.7 s curation pass, nearly
    all interpreted lambda dispatch + allocation (HOF lambdas never
    enter codegen). Here the whole extraction is three numpy
    vectorized ops per doc: utf-32 decode -> one sliding-window pack
    over the SPACE-JOINED token string (a window is a real per-token
    trigram iff its middle codepoint is not the space — padding each
    token and sliding over the joined string are the same multiset) ->
    np.unique + lexsort((trigram, -count)) = the identical
    (count desc, trigram asc) total order. Per-row, zero shuffle,
    Arrow-batched — scales with executors like any narrow map.
    """
    import re

    import numpy as np
    import pandas as pd

    pat = re.compile(_NORM_RE)

    def _extract(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            norm = pat.sub(" ", (t or "").lower()).strip()
            if not norm:
                out.append([])
                continue
            s = " " + " ".join(norm.split()) + " "
            cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
            tri = (cp[:-2] * 2048 + cp[1:-1]) * 2048 + cp[2:]
            tri = tri[cp[1:-1] != 32]
            uniq, cnt = np.unique(tri, return_counts=True)
            order = np.lexsort((uniq, -cnt))[:DOC_TOP]
            out.append(uniq[order].tolist())
        return pd.Series(out)

    import pandas as _pd

    _extract.__annotations__ = {"texts": _pd.Series, "return": _pd.Series}
    return F.pandas_udf(_extract, "array<long>")


def lang_id(documents: DataFrame, cast_id: bool = True) -> DataFrame:
    """(doc_id, pred_lang) via Cavnar-Trenkle out-of-place distance.

    ``cast_id=False`` keeps the doc_id column's own type (non-numeric
    ids, e.g. when called over recognized text inside the zoo
    predictor); the oracle uses the default long cast.

    Each doc's ranked trigram profile comes from one Arrow-vectorized
    pandas UDF (``_top_trigrams_arrow``).

    Plan shape: per-row profile extraction (no shuffle) → broadcast
    join against the ~800-row profile table → per-(doc, lang) integer
    sum → per-doc argmin. At 10^12 docs everything is keyed by doc_id
    after the first aggregation; the profile side is a broadcast.
    """
    spark = documents.sparkSession
    profiles = F.broadcast(
        spark.createDataFrame(
            [(lang, _pack_py(tri), rank) for lang, tri, rank in _profile_rows()],
            "lang string, trigram long, prank int",
        )
    )
    idc = F.col("doc_id").cast("long") if cast_id else F.col("doc_id")
    # spread the trigram extraction: normalization + extraction are
    # CPU-bound per doc and the documents table is a single row group
    # (same rationale as shingles())
    documents = spread(documents)
    docs_top = documents.select(
        idc.alias("doc_id"), _top_trigrams_arrow()(F.col("text")).alias("top")
    ).localCheckpoint(eager=False)
    return _lang_id_from_top(documents, docs_top, idc, profiles)


def _lang_id_from_top(documents, docs_top, idc, profiles) -> DataFrame:
    """Shared scoring tail: (doc_id, top: array<long> ranked trigrams)
    → broadcast profile join → out-of-place distance → argmin.

    The argmin is PURE per-doc aggregation: among matched languages,
    dist = hit_dist + (n_top - n_hit)·P differs from the constant
    no-hit floor n_top·P by exactly (hit_dist - n_hit·P), so a
    min(struct(key, lang, n_hit)) over matched rows plus one synthetic
    floor candidate (the alphabetically-first UNmatched language at
    key 0) reproduces the old full 13-language (dist, lang) window
    argmin row for row — without materializing doc×lang, without the
    window's full shuffle+sort. Measured: the doc×lang crossJoin +
    sort-merge join + window tail tripled lang_id wall time on a
    4-executor local-cluster (cross-process shuffle of 13× the rows);
    this tail shuffles one pre-aggregated row per (doc, matched-lang)
    and then one per doc; the floor's language list is a literal array.
    """
    top = docs_top.where(F.size("top") > 0).select(
        "doc_id", F.size("top").alias("n_top"), F.posexplode("top").alias("pos", "trigram")
    ).select(
        "doc_id", "n_top", "trigram", (F.col("pos") + 1).alias("drank")
    )
    cand = (
        top.join(profiles, "trigram")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.abs(F.col("drank") - F.col("prank"))).alias("hit_dist"),
            F.count("*").alias("n_hit"),
        )
        .select(
            "doc_id",
            "lang",
            F.struct(
                (F.col("hit_dist") - F.col("n_hit") * MISS_PENALTY).cast("long").alias("key"),
                F.col("lang").alias("lang"),
                F.col("n_hit").cast("long").alias("n_hit"),
            ).alias("c"),
        )
    )
    magg = cand.groupBy("doc_id").agg(
        F.min("c").alias("bestm"), F.collect_set("lang").alias("hit_langs")
    )
    per_doc = docs_top.where(F.size("top") > 0).select(
        "doc_id", F.size("top").alias("n_top")
    )  # no re-aggregation
    all_langs = F.array(*[F.lit(lg) for lg in sorted(TRAIN_SNIPPETS)])
    floor_lang = F.array_min(
        F.array_except(all_langs, F.coalesce(F.col("hit_langs"), F.array().cast("array<string>")))
    )
    floorc = F.when(
        floor_lang.isNotNull(),
        F.struct(
            F.lit(0).cast("long").alias("key"),
            floor_lang.alias("lang"),
            F.lit(0).cast("long").alias("n_hit"),
        ),
    )
    best = (
        F.when(F.col("bestm").isNull(), floorc)
        .when(floorc.isNull(), F.col("bestm"))
        .otherwise(F.least(F.col("bestm"), floorc))
    )
    pred = (
        per_doc.join(magg, "doc_id", "left")
        .select("doc_id", "n_top", best.alias("best"))
        .select(
            "doc_id",
            F.when(
                F.col("best.n_hit") * MIN_MATCH_DEN >= F.col("n_top") * MIN_MATCH_NUM,
                F.col("best.lang"),
            ).otherwise(F.lit("unknown")).alias("pred_lang"),
        )
    )
    # keep docs that produced no trigrams at all
    return (
        documents.select(idc.alias("doc_id"))
        .join(pred, "doc_id", "left")
        .select("doc_id", F.coalesce("pred_lang", F.lit("unknown")).alias("pred_lang"))
    )


def lang_id_sql() -> str:
    rows = ",\n    ".join(f"('{lg}', '{t}', {r})" for lg, t, r in _profile_rows())
    langs = ", ".join(f"('{lg}')" for lg in sorted(TRAIN_SNIPPETS))
    return f"""
WITH profiles(lang, trigram, prank) AS (
  VALUES {rows}
), langs(lang) AS (VALUES {langs}),
norm AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '{_NORM_RE}', ' ', 'g')), ' '),
                     t -> t != '') AS toks
  FROM documents
), tris AS (
  SELECT doc_id, unnest(flatten([
           [substring(' ' || tok || ' ', i, 3) for i in range(1, length(tok) + 1)]
           for tok in toks])) AS trigram
  FROM norm
), counts AS (
  SELECT doc_id, trigram, count(*) AS n FROM tris GROUP BY doc_id, trigram
), top AS (
  SELECT doc_id, trigram, drank, count(*) OVER (PARTITION BY doc_id) AS n_top
  FROM (
    SELECT doc_id, trigram,
           row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, trigram ASC) AS drank
    FROM counts
  ) WHERE drank <= {DOC_TOP}
), matched AS (
  SELECT t.doc_id, p.lang, sum(abs(t.drank - p.prank)) AS hit_dist, count(*) AS n_hit
  FROM top t JOIN profiles p USING (trigram)
  GROUP BY t.doc_id, p.lang
), per_doc AS (
  SELECT doc_id, max(n_top) AS n_top FROM top GROUP BY doc_id
), scored AS (
  SELECT d.doc_id, l.lang, d.n_top,
         coalesce(m.n_hit, 0) AS n_hit,
         coalesce(m.hit_dist, 0) + (d.n_top - coalesce(m.n_hit, 0)) * {MISS_PENALTY} AS dist
  FROM per_doc d CROSS JOIN langs l
  LEFT JOIN matched m ON m.doc_id = d.doc_id AND m.lang = l.lang
), best AS (
  SELECT doc_id,
         CASE WHEN n_hit * {MIN_MATCH_DEN} >= n_top * {MIN_MATCH_NUM} THEN lang
              ELSE 'unknown' END AS pred_lang
  FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY dist ASC, lang ASC) AS r
    FROM scored
  ) WHERE r = 1
)
SELECT d.doc_id, coalesce(b.pred_lang, 'unknown') AS pred_lang
FROM documents d LEFT JOIN best b USING (doc_id)
"""


LANG_ID_SQL = None  # resolved lazily via lang_id_sql() (profile literals)


def shingle_array(toks, k: int = 3):
    """Lazy Column: the distinct k-word shingles of the token array
    ``toks``; fewer than k tokens give their whole normalized text."""
    return F.when(F.size(toks) < k, F.array(F.array_join(toks, " "))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - k),
                lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(k)]),
            )
        )
    )


def shingles(documents: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) rows: one per ``shingle_array`` element.

    The input is spread across cores first: the documents table is a
    single parquet row-group, and shingle hashing is CPU-bound — without
    the repartition one task does all of it."""
    return spread(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"), F.explode(shingle_array(tokens(), k)).alias("shingle")
    )


def _shingles_sql(k: int = 3) -> str:
    parts = " || ' ' || ".join(f"w[i+{j}]" for j in range(k))
    return f"""
  SELECT doc_id,
         unnest(CASE WHEN len(w) < {k} THEN [array_to_string(w, ' ')]
                     ELSE list_distinct([{parts} for i in range(1, len(w) - {k - 2})]) END) AS shingle
  FROM (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents)
"""


def fingerprint(documents: DataFrame) -> DataFrame:
    """Winnowing-style document fingerprint: min 3-gram shingle hash
    (rolling-hash fingerprinting, k-min sketch with k=1), folded per
    row over the doc's shingle array — no explode, no shuffle. A
    repeated doc_id gives one row per occurrence, where the oracle's
    GROUP BY merges them; the documents' ids are distinct."""
    return spread(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.array_min(F.transform(shingle_array(tokens()), lambda s: hash64(s, 0))).alias("fingerprint"),
    )


FINGERPRINT_SQL = f"""
SELECT doc_id, min({hash64_sql("shingle", 0)}) AS fingerprint
FROM ({_shingles_sql()})
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Deterministic stratified sampling — the training-mix knob: each
# (lang, source) stratum keeps a configured fraction of documents,
# selected by a seeded hash gate so the sample is REPRODUCIBLE, stable
# under reruns/backfills (membership depends only on doc_id), and
# embarrassingly parallel (a narrow filter — no shuffle, no sort, no
# per-partition state; at 10^12 docs it pushes straight onto the scan).
# ---------------------------------------------------------------------------

SAMPLE_SEED = 41
SAMPLE_DEN = 1_000_000  # fraction resolution: 1e-6
# default training mix: over-keep scarce languages, downsample English,
# drop the synthetic 'web' source harder than curated ones
DEFAULT_LANG_FRACS = {"en": 0.35, "fr": 0.8, "de": 0.8, "es": 0.8, "zh": 1.0}
DEFAULT_FRAC = 0.5


def stratified_sample(
    documents: DataFrame,
    lang_fracs: dict[str, float] | None = None,
    default_frac: float = DEFAULT_FRAC,
    seed: int = SAMPLE_SEED,
) -> DataFrame:
    """Keep each doc iff hash(doc_id) mod 1e6 < frac(lang)·1e6.

    Returns (doc_id, lang, source) of the kept docs. The gate threshold
    is an exact integer, so both engines agree bit-for-bit and the
    realized fraction concentrates at the target (hash is uniform).
    """
    fracs = DEFAULT_LANG_FRACS if lang_fracs is None else lang_fracs
    gate = F.pmod(hash64(F.col("doc_id").cast("string"), seed), F.lit(SAMPLE_DEN))
    thresh = F.lit(int(default_frac * SAMPLE_DEN))
    for lang, frac in sorted(fracs.items()):
        thresh = F.when(F.col("lang") == lang, F.lit(int(frac * SAMPLE_DEN))).otherwise(thresh)
    return documents.where(gate < thresh).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang", "source"
    )


def stratified_sample_sql(
    lang_fracs: dict[str, float] | None = None,
    default_frac: float = DEFAULT_FRAC,
    seed: int = SAMPLE_SEED,
) -> str:
    fracs = DEFAULT_LANG_FRACS if lang_fracs is None else lang_fracs
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {int(frac * SAMPLE_DEN)}"
        for lang, frac in sorted(fracs.items(), reverse=True)
    )
    gate = hash64_sql("CAST(doc_id AS VARCHAR)", seed)
    return f"""
SELECT doc_id, lang, source
FROM documents
WHERE ({gate}) % {SAMPLE_DEN} >= 0
  AND ({gate}) % {SAMPLE_DEN} < (CASE {whens} ELSE {int(default_frac * SAMPLE_DEN)} END)
"""


# --- temperature-scaled language mixing (mT5 / XLM-R alpha-sampling) -------

MIX_ALPHA = 0.3  # sampling temperature: p_i ∝ (n_i/N)^alpha
MIX_BUDGET = 0.5  # total kept fraction of the corpus
MIX_W_ROUND = 9  # snap the pow() output (the one libm-seamed op) to integer nanos


def temperature_mix(
    documents: DataFrame,
    alpha: float = MIX_ALPHA,
    budget: float = MIX_BUDGET,
    seed: int = SAMPLE_SEED,
) -> DataFrame:
    """Temperature-scaled corpus mixing (mT5 / XLM-R): resample so the
    language shares follow p_i ∝ (n_i/N)^alpha — flattening the raw
    distribution toward low-resource languages — inside a total budget
    of ``budget``·N docs. Per-language keep rate:

        rate_i = min(1, budget · N · P_i / n_i),
        P_i = w_i / Σw,  w_i = floor((n_i/N)^alpha · 1e9 + 0.5)  (BIGINT)

    then the stratified_sample integer gate (hash(doc_id) mod 1e6 <
    rate_micros) keeps individual docs. pow() is the only operation
    whose libm rounding could differ across engines, so its output is
    snapped to INTEGER NANOS immediately; Σw is then an exact BIGINT
    sum (no float accumulation-order seam between engines or across
    partitionings — the double-sum-then-discretize trap), and the
    remaining double math is single-expression IEEE-deterministic
    before the exact integer gate.

    Output (doc_id, lang, rate_micros). Scale shape: the language
    histogram is one map-side-combined groupBy; everything after is
    control-plane scalars broadcast back — the corpus itself is
    touched exactly once by the final narrow gate.
    """
    d = documents.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")
    counts = d.groupBy("lang").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("nn"))
    scale = 10**MIX_W_ROUND
    w = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n",
        "nn",
        F.floor(
            F.pow(F.col("n").cast("double") / F.col("nn").cast("double"), F.lit(float(alpha)))
            * scale
            + F.lit(0.5)
        )
        .cast("long")
        .alias("w"),
    )
    wsum = w.agg(F.sum("w").alias("ws"))  # exact BIGINT sum
    rates = w.crossJoin(F.broadcast(wsum)).select(
        "lang",
        F.floor(
            F.least(
                F.lit(1.0),
                F.lit(float(budget))
                * F.col("nn").cast("double")
                * (F.col("w").cast("double") / F.col("ws").cast("double"))
                / F.col("n").cast("double"),
            )
            * SAMPLE_DEN
            + F.lit(0.5)
        )
        .cast("long")
        .alias("rate_micros"),
    )
    gate = F.pmod(hash64(F.col("doc_id").cast("string"), seed), F.lit(SAMPLE_DEN))
    return (
        d.join(F.broadcast(rates), "lang")
        .where(gate < F.col("rate_micros"))
        .select("doc_id", "lang", "rate_micros")
    )


def temperature_mix_sql(
    alpha: float = MIX_ALPHA, budget: float = MIX_BUDGET, seed: int = SAMPLE_SEED
) -> str:
    gate = hash64_sql("CAST(doc_id AS VARCHAR)", seed)
    scale = 10**MIX_W_ROUND
    w = f"CAST(floor(pow(n::DOUBLE / nn::DOUBLE, {float(alpha)!r}) * {scale} + 0.5) AS BIGINT)"
    return f"""
WITH counts AS MATERIALIZED (
  SELECT lang, count(*) AS n FROM documents GROUP BY 1
), tot AS (
  SELECT sum(n) AS nn FROM counts
), w AS MATERIALIZED (
  SELECT lang, n, nn, {w} AS w FROM counts, tot
), ws AS (
  SELECT sum(w) AS ws FROM w
), rates AS MATERIALIZED (
  SELECT lang,
         CAST(floor(least(1.0, {float(budget)!r} * nn::DOUBLE * (w::DOUBLE / ws.ws::DOUBLE) / n::DOUBLE)
                    * {SAMPLE_DEN} + 0.5) AS BIGINT) AS rate_micros
  FROM w, ws
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang, r.rate_micros
FROM documents d JOIN rates r ON r.lang = d.lang
WHERE ({gate}) % {SAMPLE_DEN} >= 0
  AND ({gate}) % {SAMPLE_DEN} < r.rate_micros
"""


# --- training-mix composition ----------------------------------------------

MIX_QUALITY_MIN = 0.45
MIX_LANG_FRACS = {"en": 0.9, "unknown": 0.3}
MIX_DEFAULT_FRAC = 0.7


def training_mix(
    documents: DataFrame,
    quality_min: float = MIX_QUALITY_MIN,
    lang_fracs: dict[str, float] | None = None,
    default_frac: float = MIX_DEFAULT_FRAC,
    seed: int = SAMPLE_SEED,
) -> DataFrame:
    """The end-product materialization of the training-data pipeline —
    the operators above COMPOSED, not re-implemented:

        exact-dedup (keep each content group's canonical doc)
          ∘ quality gate (score ≥ quality_min)
          ∘ model language ID (trigram profiles)
          ∘ per-language stratified hash sampling

    Returns (doc_id, pred_lang, quality) of the kept docs. Everything
    stays JVM column algebra keyed by doc_id; the dedup group-by is the
    only extra shuffle, and the sample gate is a narrow filter — the
    composition inherits each operator's scale properties unchanged.
    """
    from onnxtr_spark.functions.dedup import exact_dedup

    fracs = dict(MIX_LANG_FRACS) if lang_fracs is None else lang_fracs
    canon = exact_dedup(documents).select(F.col("canonical_doc_id").alias("doc_id"))
    q = quality_score(documents).select("doc_id", "quality")
    langs = lang_id(documents)
    gate = F.pmod(hash64(F.col("doc_id").cast("string"), seed), F.lit(SAMPLE_DEN))
    thresh = F.lit(int(default_frac * SAMPLE_DEN))
    for lang, frac in sorted(fracs.items()):
        thresh = F.when(F.col("pred_lang") == lang, F.lit(int(frac * SAMPLE_DEN))).otherwise(thresh)
    return (
        documents.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(canon, "doc_id")
        .join(q, "doc_id")
        .where(F.col("quality") >= quality_min)
        .join(langs, "doc_id")
        .where(gate < thresh)
        .select("doc_id", "pred_lang", "quality")
    )


def training_mix_sql(
    quality_min: float = MIX_QUALITY_MIN,
    lang_fracs: dict[str, float] | None = None,
    default_frac: float = MIX_DEFAULT_FRAC,
    seed: int = SAMPLE_SEED,
) -> str:
    from onnxtr_spark.functions.dedup import _NORM_SQL

    fracs = dict(MIX_LANG_FRACS) if lang_fracs is None else lang_fracs
    whens = " ".join(
        f"WHEN l.pred_lang = '{lang}' THEN {int(frac * SAMPLE_DEN)}"
        for lang, frac in sorted(fracs.items())
    )
    gate = hash64_sql("CAST(d.doc_id AS VARCHAR)", seed)
    return f"""
SELECT d.doc_id, l.pred_lang, q.quality
FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents) d
JOIN (SELECT min(CAST(doc_id AS BIGINT)) AS doc_id FROM documents GROUP BY md5({_NORM_SQL})) c
  ON c.doc_id = d.doc_id
JOIN ({QUALITY_SCORE_SQL}) q ON q.doc_id = d.doc_id
JOIN ({lang_id_sql()}) l ON l.doc_id = d.doc_id
WHERE q.quality >= {quality_min}
  AND ({gate}) % {SAMPLE_DEN} < (CASE {whens} ELSE {int(default_frac * SAMPLE_DEN)} END)
"""


# --- winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003) -------------

WINNOW_K = 8  # char k-gram width
WINNOW_W = 8  # window of consecutive k-gram hashes; guarantee: any
# match of length >= K + W - 1 shares a fingerprint


def winnow_fingerprints(documents: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W) -> DataFrame:
    """Distinct winnowing fingerprints per document: (doc_id, fp).

    The classic rolling-hash document-fingerprint scheme (MOSS): hash
    every character k-gram of the normalized text, slide a window of w
    consecutive hashes, keep each window's MINIMUM — any substring
    match of length ≥ k+w-1 between two docs is guaranteed to share a
    selected fingerprint, while only ~2/(w+1) of the grams are kept.

    Plan: one per-doc pos-ordered window min (partitioned by doc_id —
    the same bounded per-doc window discipline as lang-ID's rank),
    then a distinct. Fingerprints are join keys for substring-level
    containment detection at corpus scale, complementing the set-level
    Jaccard/MinHash family."""
    from pyspark.sql import Window

    norm = F.regexp_replace(F.trim("text"), r"\s+", " ")
    grams = (
        spread(documents)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.lit(1), F.length(norm) - k + 1)),
                    lambda i: F.substring(norm, i, k),
                )
            ).alias("pos", "gram"),
        )
        .select("doc_id", "pos", hash64(F.col("gram"), 13).alias("h"))
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    n_grams = Window.partitionBy("doc_id")
    return (
        grams.withColumn("fp", F.min("h").over(win))
        .withColumn("n", F.count("*").over(n_grams))
        # posexplode is 0-based: window starts 0..n-w (the SQL mirror's
        # 1-based 1..n-w+1), one full-w window per start
        .where(F.col("pos") <= F.greatest(F.lit(0), F.col("n") - w))
        .select("doc_id", "fp")
        .distinct()
    )


def winnow_fingerprints_sql(k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    return f"""
WITH grams AS (
  SELECT doc_id, i AS pos,
         {hash64_sql(f"substring(norm, CAST(i AS INT), {k})", 13)} AS h
  FROM (
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           regexp_replace(trim(text), '\\s+', ' ', 'g') AS norm
    FROM documents
  ), UNNEST(generate_series(1, greatest(1, length(norm) - {k} + 1))) AS t(i)
), mins AS (
  SELECT doc_id, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM grams
)
SELECT DISTINCT doc_id, fp FROM mins WHERE pos <= greatest(1, n - {w} + 1)
"""


# --- PII scrubbing --------------------------------------------------------
# Standard pre-training redaction pass: emails, IPv4s, phone-like digit
# runs. Patterns restricted to the RE2 ∩ Java-regex common dialect (no
# lookarounds) so Spark and the DuckDB oracle compile the same automaton.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+\d[\d-]{7,}\d"

# The synthetic corpus carries no organic PII, so the query would be a
# vacuous all-zeros pass. Both engines therefore INJECT deterministic
# per-doc PII first (same SQL-expressible seed), making the green row
# prove extraction counts AND byte-exact redaction on text that
# actually contains every pattern.
def _seeded_text():
    d = F.col("doc_id").cast("long")
    return F.concat(
        F.trim("text"),
        F.lit(" contact user"), d, F.lit("@mail.example.org"),
        F.lit(" from 10."), d % 200, F.lit(".0."), d % 250,
        F.lit(" call +1-555-"), F.lpad((d % 10000).cast("string"), 4, "0"),
    )


_SEEDED_SQL = (
    "trim(text) || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.org'"
    " || ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR)"
    " || ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


def pii_clean(col):
    """The redaction expression itself (emails → <EMAIL>, IPv4 → <IP>,
    phone runs → <PHONE>) — reused by the curation job on real text."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, PII_EMAIL_RE, "<EMAIL>"), PII_IPV4_RE, "<IP>"
        ),
        PII_PHONE_RE,
        "<PHONE>",
    )


def pii_scrub(documents: DataFrame) -> DataFrame:
    """Redact emails/IPv4s/phone runs: (doc_id, n_emails, n_ips,
    n_phones, clean_hash). clean_hash is md5 of the fully-redacted
    text — bit-exact replacement equality across engines without
    shipping the text back."""
    seeded = documents.select(F.col("doc_id").cast("long").alias("doc_id"), _seeded_text().alias("t"))
    clean = pii_clean(F.col("t"))
    return seeded.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(PII_EMAIL_RE), F.lit(0))).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(PII_IPV4_RE), F.lit(0))).cast("long").alias("n_ips"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(PII_PHONE_RE), F.lit(0))).cast("long").alias("n_phones"),
        F.md5(clean).alias("clean_hash"),
    )


def pii_scrub_sql() -> str:
    return f"""
WITH s AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {_SEEDED_SQL} AS t FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{PII_IPV4_RE}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
           '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{PII_IPV4_RE}', '<IP>', 'g'),
           '{PII_PHONE_RE}', '<PHONE>', 'g')) AS clean_hash
FROM s
"""


# --- Gopher-style repetition stats ----------------------------------------


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Per-doc repetition signals (the Gopher/MassiveText repetition
    filters' Spark shape): duplicate-word fraction and the character
    share of the single most frequent word-2-gram. One explode +
    map-side-combined groupBy for the 2-gram mode; everything else is
    per-row array algebra — no window over raw grams."""
    toks = tokens()
    n = F.size(toks)
    base = spread(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        toks.alias("toks"),
        F.length(F.regexp_replace(F.trim("text"), r"\s+", " ")).cast("double").alias("n_chars"),
    )
    dup = base.select(
        "doc_id", "n_chars",
        (F.lit(1.0) - F.size(F.array_distinct("toks")).cast("double") / F.size("toks")).alias("dupf"),
    )
    bigrams = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.lit(1), F.size("toks") - 1)),
                lambda i: F.concat_ws(" ", F.element_at("toks", i), F.element_at("toks", i + 1)),
            )
        ).alias("g"),
    ).where(F.size(F.split(F.col("g"), " ")) == 2)  # 1-token docs emit a degenerate unigram: drop
    top = (
        bigrams.groupBy("doc_id", "g").agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max(F.struct("cnt", "g")).alias("top"))
        .select("doc_id", F.col("top.cnt").alias("top_cnt"), F.col("top.g").alias("top_g"))
    )
    return (
        dup.join(top, "doc_id", "left")
        .select(
            "doc_id",
            round_half_up(F.col("dupf"), 4).alias("dup_word_frac"),
            round_half_up(
                F.coalesce(F.col("top_cnt") * F.length("top_g") / F.col("n_chars"), F.lit(0.0)), 4
            ).alias("top_bigram_char_frac"),
        )
    )


def repetition_stats_sql() -> str:
    return f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TOKENS_SQL} AS toks,
         length(regexp_replace(trim(text), '\\s+', ' ', 'g'))::DOUBLE AS n_chars
  FROM documents
), dup AS (
  SELECT doc_id, n_chars,
         1.0 - len(list_distinct(toks))::DOUBLE / len(toks) AS dupf
  FROM base
), bigrams AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
  FROM base, UNNEST(generate_series(1, greatest(1, len(toks) - 1))) AS u(i)
  WHERE len(toks) >= 2
), counted AS (
  SELECT doc_id, g, count(*) AS cnt FROM bigrams GROUP BY 1, 2
), top AS (
  SELECT doc_id, cnt AS top_cnt, g AS top_g
  FROM counted
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g DESC) = 1
)
SELECT dup.doc_id,
       {round_half_up_sql('dupf', 4)} AS dup_word_frac,
       {round_half_up_sql("coalesce(top_cnt * length(top_g) / n_chars, 0.0)", 4)} AS top_bigram_char_frac
FROM dup LEFT JOIN top ON dup.doc_id = top.doc_id
"""


# --- passage-level exact dedup --------------------------------------------


def passage_dedup(documents: DataFrame, width: int = 30) -> DataFrame:
    """Exact dedup at PASSAGE granularity (width-word chunks, the page
    chunking): (passage_hash, n_occurrences, n_docs, canonical_doc_id,
    canonical_pos). Whole-doc exact dedup misses boilerplate repeated
    INSIDE distinct documents; this is the standard paragraph-level
    pass. One explode + one map-side-combined groupBy — scales like
    exact_dedup."""
    toks = tokens()
    n = F.size(toks)
    chunks = spread(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.lit(0), F.ceil(n / width).cast("int") - 1)),
                lambda p: F.concat_ws(" ", F.slice(toks, p * width + 1, width)),
            )
        ).alias("pos", "chunk"),
    )
    return (
        chunks.groupBy(F.md5("chunk").alias("passage_hash"))
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.min(F.struct("doc_id", "pos")).alias("c"),
        )
        .select(
            "passage_hash", "n_occurrences", "n_docs",
            F.col("c.doc_id").alias("canonical_doc_id"),
            F.col("c.pos").cast("long").alias("canonical_pos"),
        )
    )


def passage_dedup_sql(width: int = 30) -> str:
    return f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TOKENS_SQL} AS toks FROM documents
), chunks AS (
  SELECT doc_id, p - 1 AS pos,
         array_to_string(toks[(p - 1) * {width} + 1 : (p - 1) * {width} + {width}], ' ') AS chunk
  FROM base, UNNEST(generate_series(1, greatest(1, CAST(ceil(len(toks) / {width}.0) AS BIGINT)))) AS u(p)
)
SELECT md5(chunk) AS passage_hash,
       count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs,
       min(struct_pack(doc_id := doc_id, pos := pos)).doc_id AS canonical_doc_id,
       CAST(min(struct_pack(doc_id := doc_id, pos := pos)).pos AS BIGINT) AS canonical_pos
FROM chunks
GROUP BY 1
"""


# --- benchmark decontamination --------------------------------------------


CONTAM_N = 3  # word-n-gram width; production decontamination uses 8-13
CONTAM_EVAL_MOD = 97  # doc_id % mod == 0 -> held-out "benchmark" set


def contamination(
    documents: DataFrame,
    n: int = CONTAM_N,
    eval_mod: int = CONTAM_EVAL_MOD,
    eval_docs: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-n-gram with the held-out eval set. ``eval_docs`` (a
    (doc_id[, text]) relation — the actual benchmark table) marks the
    holdout by doc_id when given; otherwise docs with
    doc_id % eval_mod == 0 stand in.
    Output: (doc_id, n_shared_grams, contaminated) for every TRAIN doc.

    Scale shape: eval n-grams are hashed to int64, deduplicated, and
    BROADCAST — the eval set is tiny next to the corpus, so the train
    side is never shuffled; per-doc shared counts come from one
    map-side-combined groupBy on the broadcast-join survivors."""
    d = F.col("doc_id").cast("long")
    toks = tokens()
    base = spread(documents).select(d.alias("doc_id"), toks.alias("t"))
    if eval_docs is not None:
        ev_ids = eval_docs.select(F.col("doc_id").cast("long").alias("doc_id")).distinct()
        base = base.join(
            F.broadcast(ev_ids.withColumn("is_eval", F.lit(True))), "doc_id", "left"
        ).withColumn("is_eval", F.coalesce("is_eval", F.lit(False)))
    else:
        base = base.withColumn("is_eval", F.col("doc_id") % eval_mod == 0)
    grams = base.select(
        "doc_id",
        "is_eval",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.lit(1), F.size("t") - n + 1)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("t", i, n))),
            )
        ).alias("g"),
    )
    eval_grams = grams.where("is_eval").select("g").distinct()
    shared = (
        grams.where(~F.col("is_eval"))
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_shared_grams"))
    )
    return (
        base.where(~F.col("is_eval"))
        .select("doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_grams", F.lit(0)).cast("long").alias("n_shared_grams"),
            (F.coalesce("n_shared_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def contamination_sql(n: int = CONTAM_N, eval_mod: int = CONTAM_EVAL_MOD) -> str:
    """Brute-force string-n-gram definition (no hashing, no broadcast
    structure) — the green row proves the hashed broadcast path loses
    and invents nothing."""
    return f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TOKENS_SQL} AS t FROM documents
), grams AS (
  SELECT doc_id, array_to_string(t[i : i + {n} - 1], ' ') AS g
  FROM toks, UNNEST(generate_series(1, greatest(1, len(t) - {n} + 1))) AS u(i)
), ev AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % {eval_mod} = 0
), hits AS (
  SELECT g2.doc_id, count(DISTINCT g2.g) AS shared
  FROM grams g2 JOIN ev USING (g)
  WHERE g2.doc_id % {eval_mod} <> 0
  GROUP BY 1
)
SELECT t.doc_id,
       CAST(coalesce(h.shared, 0) AS BIGINT) AS n_shared_grams,
       coalesce(h.shared, 0) > 0 AS contaminated
FROM toks t LEFT JOIN hits h ON t.doc_id = h.doc_id
WHERE t.doc_id % {eval_mod} <> 0
"""


# --- unigram LM scoring (perplexity-proxy quality filter) -----------------


def unigram_nll(documents: DataFrame) -> DataFrame:
    """CCNet-style LM quality proxy: per-doc mean negative log
    probability of its tokens under the corpus's OWN unigram model
    (docs full of globally-rare tokens score high = likely noise;
    boilerplate scores low). Output: (doc_id, n_tokens, nll).

    Scale shape: token counts are one map-side-combined groupBy; the
    corpus-total is a 1-row broadcast cross join (control-plane
    scalar, never a single-partition window); the count join back to
    token occurrences is an equi-join AQE broadcasts while the
    vocabulary fits and shuffles when it doesn't."""
    toks_e = spread(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"), F.explode(tokens()).alias("tok")
    )
    counts = toks_e.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    logp = counts.crossJoin(F.broadcast(total)).select(
        "tok", F.log(F.col("cnt") / F.col("total")).alias("lp")
    )
    return (
        toks_e.join(logp, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            round_half_up(-F.avg("lp"), 4).alias("nll"),
        )
    )


_NLL_CTE = f"""
toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
), counts AS (
  SELECT tok, count(*) AS cnt FROM toks GROUP BY 1
), total AS (
  SELECT sum(cnt) AS total FROM counts
), logp AS (
  SELECT tok, ln(cnt::DOUBLE / total) AS lp FROM counts, total
), nll AS (
  SELECT doc_id,
         count(*) AS n_tokens,
         {round_half_up_sql('-avg(lp)', 4)} AS nll
  FROM toks JOIN logp USING (tok)
  GROUP BY doc_id
)"""

UNIGRAM_NLL_SQL = f"WITH {_NLL_CTE} SELECT doc_id, n_tokens, nll FROM nll"


# --- interpolated bigram LM scoring (KenLM-style perplexity filter) ---------

BIGRAM_LAM = 0.7  # Jelinek-Mercer interpolation weight on the bigram term


def bigram_nll(documents: DataFrame, lam: float = BIGRAM_LAM) -> DataFrame:
    """Jelinek-Mercer interpolated bigram LM over the corpus's own
    counts — the KenLM-shaped perplexity filter CCNet runs where the
    unigram proxy is too blunt (word salad with common words scores
    LOW on unigram NLL but high here, because its transitions are
    rare). Per token i>0:  p = lam*P(w_i|w_{i-1}) + (1-lam)*P(w_i);
    the first token backs off to its unigram probability. Output:
    (doc_id, n_tokens, nll) with nll = -mean ln p, edge-rounded to 4.

    Scale shape: bigram counts are ONE map-side-combined groupBy over
    exploded adjacent pairs (built by zip_with on the token array — no
    self-join on position); context totals reuse those counts (sum by
    left token, never a second corpus pass); both probability tables
    join back by equi-join, AQE-broadcast while the vocabulary fits.
    At 100 TB, hash64 the (prev, cur) pair before the shuffle (the
    ngram-Jaccard recipe) so the exchange carries int64s, and prune
    singleton bigrams with a HAVING count > 1 + backoff.
    """
    base = (
        spread(documents)
        .select(F.col("doc_id").cast("long").alias("doc_id"), tokens().alias("t"))
        .where(F.size("t") >= 1)
        .localCheckpoint(eager=False)
    )
    toks_e = base.select("doc_id", F.explode("t").alias("tok"))
    uni = toks_e.groupBy("tok").agg(F.count("*").alias("ucnt"))
    total = uni.agg(F.sum("ucnt").alias("total"))
    uni_p = uni.crossJoin(F.broadcast(total)).select(
        "tok", (F.col("ucnt").cast("double") / F.col("total").cast("double")).alias("pu")
    )
    pairs = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                " (a, b) -> struct(a AS prev, b AS cur))"
            )
        ).alias("pr"),
    ).select("doc_id", F.col("pr.prev").alias("prev"), F.col("pr.cur").alias("cur"))
    bi = pairs.groupBy("prev", "cur").agg(F.count("*").alias("bcnt"))
    ctx = bi.groupBy("prev").agg(F.sum("bcnt").alias("ccnt"))
    bi_p = bi.join(ctx, "prev").select(
        "prev", "cur", (F.col("bcnt").cast("double") / F.col("ccnt").cast("double")).alias("pb")
    )
    lam, one_m = float(lam), 1.0 - float(lam)
    bsum = (
        pairs.join(bi_p, ["prev", "cur"])
        .join(uni_p.withColumnRenamed("tok", "cur"), "cur")
        .select("doc_id", F.log(F.lit(lam) * F.col("pb") + F.lit(one_m) * F.col("pu")).alias("lp"))
        .groupBy("doc_id")
        .agg(F.sum("lp").alias("bs"))
    )
    first = (
        base.select("doc_id", F.element_at("t", 1).alias("tok"), F.size("t").alias("n"))
        .join(uni_p, "tok")
        .select("doc_id", "n", F.log("pu").alias("flp"))
    )
    return first.join(bsum, "doc_id", "left").select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        round_half_up(
            -(F.col("flp") + F.coalesce("bs", F.lit(0.0))) / F.col("n").cast("double"), 4
        ).alias("nll"),
    )


def bigram_nll_sql(lam: float = BIGRAM_LAM) -> str:
    """DuckDB oracle: the same counts, interpolation and edge-rounding;
    the interpolation weights are repr'd Python doubles so both engines
    multiply by bit-identical literals."""
    lam, one_m = float(lam), 1.0 - float(lam)
    return f"""
WITH base AS MATERIALIZED (
  SELECT * FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_TOKENS_SQL} AS t FROM documents)
  WHERE len(t) >= 1
), toks AS (
  SELECT doc_id, unnest(t) AS tok FROM base
), uni AS MATERIALIZED (
  SELECT tok, count(*) AS ucnt FROM toks GROUP BY 1
), total AS (
  SELECT sum(ucnt) AS total FROM uni
), unip AS MATERIALIZED (
  SELECT tok, ucnt::DOUBLE / total::DOUBLE AS pu FROM uni, total
), pairs AS MATERIALIZED (
  SELECT doc_id, t[u.i] AS prev, t[u.i + 1] AS cur
  FROM base, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
), bi AS MATERIALIZED (
  SELECT prev, cur, count(*) AS bcnt FROM pairs GROUP BY 1, 2
), ctx AS MATERIALIZED (
  SELECT prev, sum(bcnt) AS ccnt FROM bi GROUP BY 1
), bip AS MATERIALIZED (
  SELECT bi.prev, bi.cur, bi.bcnt::DOUBLE / ctx.ccnt::DOUBLE AS pb
  FROM bi JOIN ctx USING (prev)
), bsum AS (
  SELECT p.doc_id, sum(ln({lam!r} * b.pb + {one_m!r} * u.pu)) AS bs
  FROM pairs p
  JOIN bip b ON b.prev = p.prev AND b.cur = p.cur
  JOIN unip u ON u.tok = p.cur
  GROUP BY 1
), frst AS (
  SELECT b.doc_id, len(b.t) AS n, ln(u.pu) AS flp
  FROM base b JOIN unip u ON u.tok = b.t[1]
)
SELECT f.doc_id, CAST(f.n AS BIGINT) AS n_tokens,
       {round_half_up_sql('-(f.flp + coalesce(s.bs, 0.0)) / f.n::DOUBLE', 4)} AS nll
FROM frst f LEFT JOIN bsum s USING (doc_id)
"""


# --- CCNet-style per-language quality buckets ------------------------------


def ccnet_buckets(documents: DataFrame) -> DataFrame:
    """CCNet-style quality tertiles (Wenzek et al. 2020): within each
    language, rank documents by their unigram-LM negative log
    likelihood and split into head (best third), middle, tail (worst
    third). Output: (doc_id, lang, nll, bucket).

    Buckets are assigned by RANK, not by an interpolated percentile
    value — `bucket = (3 * (rank-1)) div count` is pure integer math
    over the already-edge-rounded nll with doc_id as the tiebreak, so
    both engines partition identically with no float-interpolation
    seam. The documents table's own lang column is the partition key
    (ground-truth language, as CCNet buckets per language).

    Scale shape: the NLL pass is the unigram_nll plan (map-side
    combined counts + broadcast total); the tertile pass is one window
    per language — a per-language distributed sort, the price of EXACT
    tertiles. At 100 TB swap the window for approx_percentile
    thresholds per language (two-pass, no global sort) and keep this
    exact form as the oracle semantics."""
    from pyspark.sql import Window

    langs = documents.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")
    scored = unigram_nll(documents).join(langs, "doc_id")
    w = Window.partitionBy("lang").orderBy("nll", "doc_id")
    idx = F.expr("(3 * (rn - 1)) div cnt")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count("*").over(Window.partitionBy("lang")))
        .select(
            "doc_id",
            "lang",
            "nll",
            F.when(idx == 0, "head").when(idx == 1, "middle").otherwise("tail").alias("bucket"),
        )
    )


CCNET_BUCKETS_SQL = f"""
WITH {_NLL_CTE}, scored AS (
  SELECT n.doc_id, d.lang, n.nll
  FROM nll n
  JOIN (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM documents) d USING (doc_id)
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY lang ORDER BY nll, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS cnt
  FROM scored
)
SELECT doc_id, lang, nll,
       CASE (3 * (rn - 1)) // cnt WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
FROM ranked
"""


# --- cross-document winnowing duplicate pairs ------------------------------

WINNOW_PAIR_MAX_DF = 10  # fingerprints in more docs are boilerplate — dropped
WINNOW_PAIR_MIN_SHARED = 3  # pairs must share this many fingerprints


def winnow_dup_pairs(
    documents: DataFrame,
    max_df: int = WINNOW_PAIR_MAX_DF,
    min_shared: int = WINNOW_PAIR_MIN_SHARED,
) -> DataFrame:
    """MOSS-style cross-document duplicate detection over winnowing
    fingerprints (Schleimer et al. 2003 §4): documents sharing ≥
    min_shared selected fingerprints contain near-identical substrings
    of length ≥ k+w-1. Output: (doc_a, doc_b, n_shared).

    Plan: the per-doc fingerprint table is materialized once
    (localCheckpoint — it feeds both the document-frequency pass and
    the pair join), fingerprints seen in more than max_df documents
    are dropped BEFORE the self-join (boilerplate suppression, exactly
    MOSS's `maxdf` knob — and the scale guard: it bounds the
    equi-join's per-key fanout at max_df², so no hot fingerprint can
    produce a quadratic bucket), then one banded self-equi-join on the
    fingerprint + a pair groupBy. Same shape as the MinHash band join;
    no all-pairs comparison anywhere."""
    fps = winnow_fingerprints(documents).localCheckpoint(eager=False)
    rare = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("fp")
    )
    kept = fps.join(rare, "fp")
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


# --- BM25 retrieval scoring -------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("fast", "key", "order", "sort", "scan")
BM25_TOPK = 20


def bm25_search(
    documents: DataFrame,
    terms: tuple[str, ...] = BM25_TERMS,
    k1: float = BM25_K1,
    b: float = BM25_B,
    topk: int = BM25_TOPK,
) -> DataFrame:
    """Okapi BM25 (Lucene IDF variant) ranking of the corpus against a
    fixed term set: (doc_id, score, n_hits) for the top-k docs.

    Per-term contributions are quantized to integer MICROS before the
    per-doc sum — double addition is order-sensitive and a distributed
    groupBy sums in nondeterministic order, so the engine-exact
    contract is: round each term's (deterministic, per-row) double to
    1e-6, then sum as BIGINT. Plan: one token explode filtered to the
    term list (predicate-pushed before any shuffle: only rows touching
    a query term survive), tf groupBy, df from the same relation,
    avgdl/N as a broadcast 1-row aggregate — nothing scales with
    corpus size except the initial scan."""
    toks_e = spread(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(tokens()).cast("double").alias("dl"),
        F.explode(tokens()).alias("tok"),
    )
    # avgdl from an INTEGER length sum: long addition commutes, so the
    # distributed aggregate is order-independent (a double avg is not)
    stats = documents.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum(F.size(tokens()).cast("long")) / F.count("*")).alias("avgdl"),
    )
    hits = toks_e.where(F.col("tok").isin(*terms))
    tf = hits.groupBy("doc_id", "tok").agg(
        F.count("*").cast("double").alias("tf"), F.first("dl").alias("dl")
    )
    df_t = hits.select("doc_id", "tok").distinct().groupBy("tok").agg(
        F.count("*").cast("double").alias("df")
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    contrib = idf * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    micros = F.floor(contrib * 1_000_000 + F.lit(0.5)).cast("long")
    return (
        tf.join(F.broadcast(df_t), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(micros).alias("score_micros"),
            F.count("*").cast("long").alias("n_hits"),
        )
        .select(
            "doc_id",
            (F.col("score_micros") / F.lit(1_000_000.0)).alias("score"),
            "n_hits",
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(topk)
    )


def bm25_search_sql(
    terms: tuple[str, ...] = BM25_TERMS,
    k1: float = BM25_K1,
    b: float = BM25_B,
    topk: int = BM25_TOPK,
) -> str:
    term_sql = "(" + ", ".join(f"'{t}'" for t in terms) + ")"
    return f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         len({_TOKENS_SQL})::DOUBLE AS dl,
         unnest({_TOKENS_SQL}) AS tok
  FROM documents
), stats AS (
  SELECT count(*)::DOUBLE AS n_docs,
         CAST(sum(len({_TOKENS_SQL})) AS BIGINT) / count(*)::DOUBLE AS avgdl
  FROM documents
), hits AS (
  SELECT * FROM toks WHERE tok IN {term_sql}
), tf AS (
  SELECT doc_id, tok, count(*)::DOUBLE AS tf, any_value(dl) AS dl
  FROM hits GROUP BY 1, 2
), df_t AS (
  SELECT tok, count(DISTINCT doc_id)::DOUBLE AS df FROM hits GROUP BY 1
), scored AS (
  SELECT doc_id,
         CAST(floor(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * ({k1} + 1.0) / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl)))
           * 1000000 + 0.5) AS BIGINT) AS micros
  FROM tf JOIN df_t USING (tok), stats
)
SELECT doc_id, sum(micros) / 1000000.0 AS score, count(*) AS n_hits
FROM scored
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {topk}
"""


# --- sequence packing for training ----------------------------------------

PACK_CTX = 1024  # tokens per training context window
PACK_SHARD_DOCS = 128  # docs per packing shard (bounds window state)


def pack_sequences(
    documents: DataFrame, ctx: int = PACK_CTX, shard_docs: int = PACK_SHARD_DOCS
) -> DataFrame:
    """Deterministic concatenate-then-chunk sequence packing (the GPT
    pretraining layout): within a shard, documents are laid end-to-end
    in doc_id order as a BPE-token stream and cut into ctx-token bins.
    Output per doc: (doc_id, shard, bin_in_shard, bin_offset,
    n_bpe_tokens) — bin_in_shard/bin_offset locate the doc's first
    token, n_bpe_tokens its length (a doc may spill into the next bin,
    exactly as pretraining concatenation does).

    The shard key `doc_id div shard_docs` makes this scale-correct: the
    running sum is a window PER SHARD (bounded partitions, no global
    single-partition sort), and shards pack independently — at 100 TB
    the shard width is the only knob. All math is integer (token counts
    summed as BIGINT), so both engines cut identical bins."""
    from pyspark.sql import Window

    n_bpe = F.size(F.regexp_extract_all(F.trim("text"), F.lit(BPE_RE), F.lit(0))).cast("long")
    base = spread(documents).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(f"CAST(doc_id AS BIGINT) div {shard_docs}").alias("shard"),
        n_bpe.alias("n_bpe_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_bpe_tokens").over(w) - F.col("n_bpe_tokens")).alias("start")
    return base.select("doc_id", "shard", "n_bpe_tokens", start).select(
        "doc_id",
        "shard",
        F.expr(f"start div {ctx}").alias("bin_in_shard"),
        F.expr(f"start % {ctx}").alias("bin_offset"),
        "n_bpe_tokens",
    )


def pack_sequences_sql(ctx: int = PACK_CTX, shard_docs: int = PACK_SHARD_DOCS) -> str:
    return f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(doc_id AS BIGINT) // {shard_docs} AS shard,
         CAST(len(regexp_extract_all(trim(text), '{BPE_RE_SQL}')) AS BIGINT) AS n_bpe_tokens
  FROM documents
), cum AS (
  -- sum() OVER on BIGINT widens to HUGEINT in DuckDB (floats in pandas);
  -- cast back so both engines emit int64 columns
  SELECT *,
         CAST(sum(n_bpe_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_bpe_tokens AS BIGINT) AS start
  FROM base
)
SELECT doc_id, shard, start // {ctx} AS bin_in_shard, start % {ctx} AS bin_offset, n_bpe_tokens
FROM cum
"""


def winnow_dup_pairs_sql(
    max_df: int = WINNOW_PAIR_MAX_DF, min_shared: int = WINNOW_PAIR_MIN_SHARED
) -> str:
    return f"""
WITH fps AS ({winnow_fingerprints_sql()}),
keep AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) BETWEEN 2 AND {max_df}
), kept AS (
  SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {min_shared}
"""


# --- BPE tokenization (apply a fixed merge table) ---------------------------
# Byte-pair encoding APPLY as pure column algebra: the symbol sequence
# is space-delimited with sentinel spaces (" t h e "), each merge
# (a, b) -> ab is a replace of " a b " with " ab " applied in rank
# order, and words are separated by a "¤" sentinel so merges never
# cross word boundaries. The delimiting spaces prevent the classic
# substring-merge bug (" e r" matching inside "the r"); each merge's
# replace runs TWICE because adjacent occurrences share a delimiter
# space — non-overlapping replace consumes it and skips every second
# occurrence (" e r e r e r "), and one extra pass merges the skipped,
# now-isolated pairs. With a != b in every merge (asserted — pattern
# instances can never share a SYMBOL, only the delimiter) two passes
# reproduce the textbook per-word algorithm exactly, proven against an
# honest reference implementation by property test.
BPE_MERGES = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "r"), ("r", "e"), ("s", "t"), ("o", "n"),
    ("e", "n"), ("a", "t"), ("in", "g"), ("the", "r"),
)


def bpe_symbol_seq(col, merges: tuple = BPE_MERGES):
    """Column: the final space-delimited BPE symbol sequence of a text
    column (words separated by ¤)."""
    words = F.split(F.trim(col), r"\s+")
    seq = F.concat(
        F.lit(" "),
        F.array_join(
            F.transform(words, lambda w: F.array_join(F.regexp_extract_all(w, F.lit("."), F.lit(0)), " ")),
            " ¤ ",
        ),
        F.lit(" "),
    )
    for a, b in merges:
        assert a != b, "BPE-as-replace requires a != b merges (see module comment)"
        for _ in range(2):
            seq = F.replace(seq, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    return seq


def bpe_symbol_seq_sql(expr: str, merges: tuple = BPE_MERGES) -> str:
    inner = (
        "' ' || array_to_string(list_transform(string_split_regex(trim(" + expr + "), '\\s+'),"
        " w -> array_to_string(regexp_extract_all(w, '.'), ' ')), ' ¤ ') || ' '"
    )
    out = inner
    for a, b in merges:
        for _ in range(2):
            out = f"replace({out}, ' {a} {b} ', ' {a}{b} ')"
    return out


def bpe_encode(documents: DataFrame, merges: tuple = BPE_MERGES) -> DataFrame:
    """(doc_id, n_bpe, sym_hash): BPE token count under the fixed merge
    table and the md5 of the full symbol sequence — bit-exact symbol
    equality across engines without shipping the sequence back.
    Embarrassingly parallel per-row column algebra; a learned merge
    table swaps in as a literal list (training the table is a
    pair-count aggregate per rank — the kmeans-style control-plane
    loop)."""
    seq = bpe_symbol_seq(F.col("text"), merges)
    syms = F.filter(F.split(F.trim(seq), " "), lambda s: (s != "¤") & (s != ""))
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(syms).cast("long").alias("n_bpe"),
        F.md5(seq).alias("sym_hash"),
    )


def bpe_encode_sql(merges: tuple = BPE_MERGES) -> str:
    seq = bpe_symbol_seq_sql("text", merges)
    return f"""
WITH s AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {seq} AS seq FROM documents
)
SELECT doc_id,
       len(list_filter(string_split(trim(seq), ' '), x -> x != '¤' AND x != '')) AS n_bpe,
       md5(seq) AS sym_hash
FROM s
"""


BPE_TRAIN_MERGES = 10  # merge-table size learned by bpe_train


def _bpe_adjacent_pairs(seq):
    """Column: array<struct<a,b>> of adjacent symbol pairs of a
    space-delimited sequence, word-sentinel (\u00a4) and empty symbols
    excluded. Built from zip-of-slices so the symbol array is evaluated
    once per row (an element_at-per-index form would re-evaluate the
    sequence expression O(n) times)."""
    syms = F.split(F.trim(seq), " ")
    n = F.size(syms)
    pairs = F.zip_with(
        F.slice(syms, 1, n - 1),
        F.slice(syms, 2, n - 1),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )
    return F.filter(
        pairs,
        lambda p: (p["a"] != "\u00a4") & (p["b"] != "\u00a4") & (p["a"] != "") & (p["b"] != ""),
    )


def bpe_train(documents: DataFrame, n_merges: int = BPE_TRAIN_MERGES) -> DataFrame:
    """Learn a BPE merge table from the corpus: (rank, a, b, pair_count).

    The kmeans-style control-plane loop the bpe_encode docstring
    promises: each round counts adjacent symbol pairs corpus-wide (one
    map-side-combined groupBy; the argmax job is TakeOrderedAndProject,
    no full sort), the driver picks the winning pair — ties broken by
    (count desc, a, b) so both engines select identically — and the
    ROUND'S ONE new merge is applied to the materialized symbol
    sequences (2-pass replace, bpe_symbol_seq's contract) before the
    next round. Candidates are restricted to a != b (the replace-chain
    applier's contract; a==b pair counts differ by overlapping-
    occurrence convention anyway).

    Scale shape: the sequences materialize once up front and each round
    is one narrow replace + one partial-aggregated pair count — the
    corpus is never reprocessed from raw text (recomputing the full
    merge chain per round nests the whole expression tree inside the
    pair extractor and blows up planning). localCheckpoint bounds plan
    growth exactly like connected_components; a cluster deployment
    swaps it for reliable checkpoints every few rounds.
    """
    spark = documents.sparkSession
    work = documents.select(
        bpe_symbol_seq(F.col("text"), ()).alias("seq")
    ).localCheckpoint()
    merges: list[tuple[str, str]] = []
    rows = []
    for rank in range(1, n_merges + 1):
        counts = (
            work.select(F.explode(_bpe_adjacent_pairs(F.col("seq"))).alias("p"))
            .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .where(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("c"))
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not counts:
            break
        r = counts[0]
        merges.append((r["a"], r["b"]))
        rows.append((rank, r["a"], r["b"], int(r["c"])))
        seq = F.col("seq")
        for _ in range(2):
            seq = F.replace(
                seq, F.lit(f" {r['a']} {r['b']} "), F.lit(f" {r['a']}{r['b']} ")
            )
        work = work.select(seq.alias("seq")).localCheckpoint()
    return spark.createDataFrame(rows, "rank long, a string, b string, pair_count long")


def bpe_train_sql(n_merges: int = BPE_TRAIN_MERGES) -> str:
    """DuckDB oracle: the K rounds fully unrolled as CTE layers; each
    round's argmax merge is a 1-row CTE whose (a, b) feed the next
    round's replace() via scalar subqueries — no procedural loop, same
    (count desc, a, b) tie-break."""
    base = (
        "' ' || array_to_string(list_transform(string_split_regex(trim(text), '\\s+'),"
        " w -> array_to_string(regexp_extract_all(w, '.'), ' ')), ' \u00a4 ') || ' '"
    )
    ctes = [f"seq0 AS MATERIALIZED (SELECT CAST(doc_id AS BIGINT) AS doc_id, {base} AS seq FROM documents)"]
    for r in range(1, n_merges + 1):
        prev = f"seq{r - 1}"
        ctes.append(f"""p{r} AS MATERIALIZED (
  SELECT syms[i] AS a, syms[i + 1] AS b, count(*) AS c
  FROM (SELECT string_split(trim(seq), ' ') AS syms FROM {prev}),
       UNNEST(generate_series(1, len(syms) - 1)) AS u(i)
  WHERE syms[i] NOT IN ('\u00a4', '') AND syms[i + 1] NOT IN ('\u00a4', '')
        AND syms[i] != syms[i + 1]
  GROUP BY 1, 2
)""")
        ctes.append(f"m{r} AS MATERIALIZED (SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1)")
        rep = (
            f"replace(seq, ' ' || (SELECT a FROM m{r}) || ' ' || (SELECT b FROM m{r}) || ' ',"
            f" ' ' || (SELECT a FROM m{r}) || (SELECT b FROM m{r}) || ' ')"
        )
        rep2 = (
            f"replace({rep}, ' ' || (SELECT a FROM m{r}) || ' ' || (SELECT b FROM m{r}) || ' ',"
            f" ' ' || (SELECT a FROM m{r}) || (SELECT b FROM m{r}) || ' ')"
        )
        ctes.append(f"seq{r} AS MATERIALIZED (SELECT doc_id, {rep2} AS seq FROM {prev})")
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS rank, a, b, CAST(c AS BIGINT) AS pair_count FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


# --- per-source corpus composition ------------------------------------------


def source_stats(documents: DataFrame) -> DataFrame:
    """Corpus composition by source: (source, n_docs, n_unique_texts,
    dup_frac, total_chars, langs) — the dashboard a data-mix owner
    reads before weighting sources. One map-side-combined groupBy over
    (source, text-hash) then one over source; dup_frac is the exact
    within-source duplicate fraction, langs the distinct ground-truth
    language count. Integer math until the output edge."""
    per_text = (
        documents.select(
            "source",
            F.md5(F.regexp_replace(F.trim("text"), r"\s+", " ")).alias("h"),
            F.length(F.trim("text")).cast("long").alias("n_chars"),
        )
        .groupBy("source", "h")
        .agg(F.count("*").cast("long").alias("n"), F.sum("n_chars").alias("chars"))
    )
    langs = documents.groupBy("source").agg(F.countDistinct("lang").cast("long").alias("langs"))
    return (
        per_text.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_unique_texts"),
            F.sum("chars").cast("long").alias("total_chars"),
        )
        .join(langs, "source")
        .select(
            "source",
            "n_docs",
            "n_unique_texts",
            round_half_up((F.col("n_docs") - F.col("n_unique_texts")) / F.col("n_docs"), 4).alias("dup_frac"),
            "total_chars",
            "langs",
        )
        .orderBy("source")
    )


SOURCE_STATS_SQL = f"""
WITH per_text AS (
  SELECT source, md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS h,
         count(*) AS n, sum(length(trim(text))) AS chars
  FROM documents GROUP BY 1, 2
), langs AS (
  SELECT source, count(DISTINCT lang) AS langs FROM documents GROUP BY 1
)
SELECT p.source,
       CAST(sum(n) AS BIGINT) AS n_docs,
       count(*) AS n_unique_texts,
       {round_half_up_sql("(sum(n) - count(*))::DOUBLE / sum(n)::DOUBLE", 4)} AS dup_frac,
       CAST(sum(chars) AS BIGINT) AS total_chars,
       CAST(any_value(langs) AS BIGINT) AS langs
FROM per_text p JOIN langs l ON p.source = l.source
GROUP BY 1
ORDER BY 1
"""


TFIDF_TOP_K = 3
TFIDF_SCALE = 1_000_000  # idf in integer micro-units: (N * SCALE) div df


def tfidf_keywords(documents: DataFrame, k: int = TFIDF_TOP_K) -> DataFrame:
    """Top-k tf-idf keywords per document (stopwords removed).

    idf is the integer ratio (N_docs * 10^6) div df — monotone in the
    usual log(N/df) for ranking purposes and bit-exact on both engines
    (the log variant would put a float seam inside the ORDER BY, where
    a 1-ulp divergence flips ranks). At corpus scales where
    N * 10^6 nears int64 (N ~ 10^12) production would switch to the
    float log-idf and rank with an epsilon tie-break; documented, not
    hit here. Ties break (score DESC, term ASC) so the top-k set is
    deterministic.

    Scale shape: explode is a narrow fan-out; tf and df are map-side
    combined groupBys; N is a 1-row broadcast (control-plane scalar);
    the top-k window partitions by doc_id over the already-aggregated
    tf relation — O(doc terms), never raw token occurrences.
    """
    toks = (
        spread(documents)
        .select(F.col("doc_id").cast("long").alias("doc_id"), F.explode(tokens()).alias("term"))
        .where((F.col("term") != "") & ~F.col("term").isin(*EN_STOPWORDS))
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").cast("long").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n = documents.agg(F.count("*").cast("long").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf_micro", F.expr(f"tf * ((n_docs * {TFIDF_SCALE}) div df)"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf_micro").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "tfidf_micro", F.col("rk").cast("long").alias("rk"))
    )


def tfidf_keywords_sql(k: int = TFIDF_TOP_K) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
), tf AS MATERIALIZED (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term <> '' AND term NOT IN {_STOP_SQL}
  GROUP BY 1, 2
), dfr AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(*) AS n_docs FROM documents
)
SELECT doc_id, term, tf, tfidf_micro, rk FROM (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf * ((n_docs * {TFIDF_SCALE}) // df) AS tfidf_micro,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf * ((n_docs * {TFIDF_SCALE}) // df) DESC,
                                     tf.term ASC) AS rk
  FROM tf JOIN dfr USING (term) CROSS JOIN n
) WHERE rk <= {k}
"""


# --- canonical text normalization (pre-dedup cleanup) -----------------------
# The ftfy/ccnet-style canonical form most dedup pipelines hash instead
# of raw text: lowercase, strip everything outside [a-z0-9 ], collapse
# whitespace runs. Kept to the ASCII-safe regex subset that Java regex
# (Spark) and RE2 (DuckDB) treat identically.


def normalize_text(documents: DataFrame) -> DataFrame:
    """Per-doc canonical-form stats: (doc_id, norm_hash, n_norm_chars,
    n_norm_tokens, removed_frac). norm_hash is the cross-engine md5-60
    hash of the canonical form — the key exact dedup SHOULD group on
    (casing/punctuation variants of the same text collide here but not
    under raw-text hashing). removed_frac measures how much of the raw
    text the canonicalization discarded — a cheap boilerplate signal.

    Pure per-row column algebra: no shuffle, no Python; at 100 TB this
    is a narrow map over the scan."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.trim("text")), r"[^a-z0-9 ]+", " "), r"  +", " "
        )
    )
    n_raw = F.length(F.trim("text")).cast("double")
    n_norm = F.length(norm).cast("long")
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        hash64(norm, seed=71).alias("norm_hash"),
        n_norm.alias("n_norm_chars"),
        F.when(n_norm == 0, F.lit(0)).otherwise(F.size(F.split(norm, " "))).cast("long").alias("n_norm_tokens"),
        F.when(n_raw == 0, F.lit(0.0))
        .otherwise(round_half_up((n_raw - n_norm) / n_raw, 4))
        .alias("removed_frac"),
    )


def normalize_text_sql() -> str:
    return f"""
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9 ]+', ' ', 'g'),
                             '  +', ' ', 'g')) AS norm,
         length(trim(text))::DOUBLE AS n_raw
  FROM documents
)
SELECT doc_id,
       {hash64_sql('norm', seed=71)} AS norm_hash,
       length(norm) AS n_norm_chars,
       CASE WHEN length(norm) = 0 THEN 0
            ELSE len(string_split(norm, ' ')) END AS n_norm_tokens,
       CASE WHEN n_raw = 0 THEN 0.0
            ELSE {round_half_up_sql('(n_raw - length(norm)) / n_raw', 4)} END AS removed_frac
FROM n
"""


# --- sliding-window chunking (RAG / retrieval corpus prep) ------------------
# Overlapping fixed-width windows over the token stream — the standard
# retrieval-chunking layout (win tokens, stride < win so consecutive
# chunks share win-stride tokens of context). Complements
# pack_sequences (non-overlapping training bins): this one preserves
# in-doc context overlap for embedding/retrieval corpora.

CHUNK_WIN = 64
CHUNK_STRIDE = 48


def chunk_sliding(
    documents: DataFrame, win: int = CHUNK_WIN, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Chunk each doc's whitespace-token stream into overlapping windows
    of `win` tokens every `stride` tokens (chunk starts 0, stride,
    2*stride, ... < n_tokens; the final chunks may be short). Output per
    chunk: (doc_id, chunk_idx, start_tok, n_chunk_toks, chunk_hash) with
    chunk_hash the cross-engine hash of the space-joined chunk — the
    unit retrieval indexes embed and near-dedup runs over.

    Scale: fan-out is ceil(n/stride) per doc — bounded, narrow (explode
    after a scan; no shuffle at all). The token array is dropped at the
    first projection after slicing, so only chunk-sized strings cross
    operator boundaries."""
    base = (
        spread(documents)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            tokens().alias("toks"),
            F.size(tokens()).alias("n"),
        )
        .where(F.col("n") > 0)
    )
    chunk = F.slice("toks", F.col("start") + 1, F.lit(win))
    return (
        base.select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(stride))).alias("start"),
        )
        .select(
            "doc_id",
            F.expr(f"start div {stride}").alias("chunk_idx"),
            F.col("start").cast("long").alias("start_tok"),
            F.size(chunk).cast("long").alias("n_chunk_toks"),
            hash64(F.array_join(chunk, " "), seed=73).alias("chunk_hash"),
        )
    )


def chunk_sliding_sql(win: int = CHUNK_WIN, stride: int = CHUNK_STRIDE) -> str:
    return f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks, len({_TOKENS_SQL}) AS n FROM documents
), s AS (
  SELECT doc_id, toks, unnest(range(0, n, {stride})) AS start FROM t WHERE n > 0
)
SELECT doc_id,
       start // {stride} AS chunk_idx,
       CAST(start AS BIGINT) AS start_tok,
       len(toks[start + 1 : start + {win}]) AS n_chunk_toks,
       {hash64_sql(f"array_to_string(toks[start + 1 : start + {win}], ' ')", seed=73)} AS chunk_hash
FROM s
"""


def _canonical():
    """The shared canonical-form Column (see normalize_text)."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.trim("text")), r"[^a-z0-9 ]+", " "), r"  +", " "
        )
    )


_CANONICAL_SQL = (
    "trim(regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9 ]+', ' ', 'g'),"
    " '  +', ' ', 'g'))"
)


def normalize_dedup(documents: DataFrame) -> DataFrame:
    """Exact-dedup groups over the CANONICAL form: (norm_hash, n_docs,
    canonical_doc_id). Catches the casing/punctuation/whitespace
    variants that raw exact dedup (dedup_exact, whitespace-normalized
    only) misses — the usual first escalation before MinHash. Same
    scale shape as dedup_exact: one map-side-combined groupBy, nothing
    else. norm_hash uses the same seed as normalize_text, so the two
    outputs join directly."""
    return (
        documents.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            hash64(_canonical(), seed=71).alias("norm_hash"),
        )
        .groupBy("norm_hash")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


def normalize_dedup_sql() -> str:
    return f"""
SELECT {hash64_sql(_CANONICAL_SQL, seed=71)} AS norm_hash,
       count(*) AS n_docs,
       min(doc_id) AS canonical_doc_id
FROM documents
GROUP BY 1
"""
