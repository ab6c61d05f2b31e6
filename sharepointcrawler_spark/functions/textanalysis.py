"""Text-analysis column functions for training-data pipelines.

All hot-path functions are JVM-side builtins (whole-stage codegen, no
Python round-trip); each has an exact DuckDB-SQL oracle equivalent in
``__spark_entry__.oracle_sql`` (portable constructs only: md5-hex ->
int64, regexp counts, list ops).

Reference analogs: the dormant classifier map SharePointClient.cs:54-60
(F2) and stopword list :61-64 — generalized to language-ID scoring,
quality scoring, token counting and fingerprinting.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

# marker words per language, scored by \b-regex occurrence counts —
# deterministic and portable between Spark (Java regex) and DuckDB (RE2)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "los", "que", "es", "una"],
}

STOPWORDS_EN = [
    "the", "and", "or", "of", "to", "a", "in", "is", "it", "for",
    "on", "with", "as", "at", "by", "an", "be", "this", "that",
]


def normalize_text(col: Column | str) -> Column:
    """lower + trim + collapse whitespace — the canonical form used by
    every dedup fingerprint."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def token_count(col: Column | str) -> Column:
    """Whitespace token count (BPE-ish sub-tokens: see bpe_ish_count)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.trim(c) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(c), r"\s+"))
    )


def bpe_ish_count(col: Column | str) -> Column:
    """Sub-word token estimate: count of letter-runs, digit-runs and
    single punctuation marks (a BPE-like segmentation regex)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)))


def lang_marker_score(col: Column | str, lang: str) -> Column:
    """Per-language marker count (kept for single-language scoring; the
    multi-language argmax in lang_id uses the fused one-pass extraction
    instead of 20 regexp_count scans)."""
    c = F.col(col) if isinstance(col, str) else col
    low = F.lower(c)
    score = F.lit(0)
    for w in LANG_MARKERS[lang]:
        score = score + F.regexp_count(low, F.lit(rf"\b{w}\b"))
    return score


# one alternation over every marker word (longest-first so e.g. 'est'
# wins over 'es' without relying on backtracking): a single regex pass
# extracts all marker hits, then each language counts its own words
# with an array filter — 1 scan of the text instead of 20
_ALL_MARKERS = sorted({w for ws in LANG_MARKERS.values() for w in ws}, key=len, reverse=True)
_MARKER_PATTERN = r"\b(" + "|".join(_ALL_MARKERS) + r")\b"


def lang_id_from_tokens(toks: Column) -> Column:
    """Argmax of marker scores over a PRE-TOKENIZED word array; ties and
    zero-evidence rows -> 'und'. Tie-break: language order en,de,fr,es
    (strictly-greater comparison).

    Take the tokens as a staged ATTRIBUTE column where possible: codegen
    subexpression elimination does not share lambda-containing subtrees,
    so the four per-language score expressions re-run whatever
    tokenization is nested inside them (the curate pipeline measured
    3.9s -> 2.4s at sf0.01 from staging the split once)."""
    scores = {
        lang: F.size(F.filter(toks, lambda x: x.isin(*LANG_MARKERS[lang])))
        for lang in LANG_MARKERS
    }
    return _lang_argmax(scores)


def lang_id(col: Column | str) -> Column:
    """Argmax of marker scores; ties and zero-evidence rows -> 'und'.
    Identical semantics to per-word ``\\b``-regex counting: the ``\\W+``
    split yields exactly the ``\\b``-delimited words, so token-in-set
    counts equal whole-word match counts (multiplicity included). For
    hot paths prefer staging the split as its own column and calling
    :func:`lang_id_from_tokens` (see its note on lambda CSE)."""
    c = F.col(col) if isinstance(col, str) else col
    return lang_id_from_tokens(F.split(F.lower(c), r"\W+"))


def _lang_argmax(scores: dict) -> Column:
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in LANG_MARKERS:  # insertion order = tie-break order
        s = scores[lang]
        cond = s > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, s).otherwise(best_score)
    return best_lang


# --------------------------- char-n-gram language ID (Cavnar–Trenkle)

# Deterministic seed corpora the per-language trigram profiles are BUILT
# FROM at import time (Cavnar & Trenkle 1994, "N-Gram-Based Text
# Categorization": rank the most frequent character n-grams, classify by
# out-of-place rank distance). Real deployments train profiles on large
# corpora; these embedded seeds keep the profiles deterministic,
# self-contained and inspectable, while the SCORING pipeline is the
# genuine C-T method. The 5-marker-word heuristic (lang_id above) stays
# the cheap single-pass gate; this is the quality backend.
LANG_SEED_TEXTS: dict[str, str] = {
    # ~250 words each of original function-word-heavy prose (accent-free
    # transliteration, matching the [a-z]-only normalization both the
    # engine and the oracle apply to documents). Round 5 grew these from
    # ~60 words: profile depth is the main accuracy lever of the C-T
    # method, and the profiles stay deterministic, self-contained and
    # inspectable — the upgrade path to corpus-trained profiles is
    # unchanged (swap the seed text, the builder and oracle follow).
    "en": (
        "the quick brown fox jumps over the lazy dog and the people of the "
        "world said that this is the time for all good men to come to the "
        "aid of their country with the strength of their hands and the "
        "wisdom that they have gathered over the years of their lives "
        "there was a house at the end of the road where an old man lived "
        "with his daughter and every morning they would walk together down "
        "to the river and watch the water run past the stones that had "
        "been there longer than anyone could remember when the winter came "
        "the days grew short and the light fell early behind the hills but "
        "the work of the town went on because it always had and it always "
        "would the children went to school in the morning and came home in "
        "the evening and asked what was for dinner and whether they could "
        "go out and play before it got dark most of the time the answer "
        "was yes if they had done what they were asked to do first it is "
        "not hard to see why people stayed in that place for so long the "
        "land was good the water was clean and the neighbors knew one "
        "another by name when something needed to be done everyone came "
        "and did their part and when it was finished they sat down at one "
        "long table and ate and talked about the things that had happened "
        "and the things that were still to come and nobody was in a hurry "
        "to leave because there was nowhere better to be than right there "
        "with each other at the end of a good day of work"
    ),
    "de": (
        "der schnelle braune fuchs springt ueber den faulen hund und die "
        "menschen der welt sagten dass dies die zeit ist in der alle guten "
        "maenner ihrem land mit der kraft ihrer haende und der weisheit "
        "die sie ueber die jahre ihres lebens gesammelt haben helfen "
        "es war einmal ein haus am ende der strasse in dem ein alter mann "
        "mit seiner tochter wohnte und jeden morgen gingen sie zusammen "
        "hinunter zum fluss und sahen dem wasser zu das an den steinen "
        "vorbeilief die schon laenger dort lagen als sich irgendjemand "
        "erinnern konnte als der winter kam wurden die tage kurz und das "
        "licht fiel frueh hinter die huegel aber die arbeit in der stadt "
        "ging weiter denn so war es immer gewesen und so wuerde es auch "
        "bleiben die kinder gingen am morgen zur schule und kamen am abend "
        "nach hause und fragten was es zum essen gebe und ob sie noch "
        "draussen spielen duerften bevor es dunkel wurde meistens war die "
        "antwort ja wenn sie vorher getan hatten worum man sie gebeten "
        "hatte es ist nicht schwer zu verstehen warum die menschen so "
        "lange an diesem ort geblieben sind das land war gut das wasser "
        "war sauber und die nachbarn kannten einander beim namen wenn "
        "etwas getan werden musste kamen alle und taten ihren teil und "
        "wenn es fertig war setzten sie sich an einen langen tisch und "
        "assen und sprachen ueber das was geschehen war und das was noch "
        "kommen sollte und niemand hatte es eilig zu gehen denn es gab "
        "keinen besseren ort als diesen am ende eines guten arbeitstages"
    ),
    "fr": (
        "le renard brun rapide saute par dessus le chien paresseux et les "
        "gens du monde ont dit que ce temps est venu pour tous les hommes "
        "de bien de venir en aide a leur pays avec la force de leurs mains "
        "et la sagesse quils ont acquise au cours des annees de leur vie "
        "il y avait une maison au bout de la route ou un vieil homme "
        "vivait avec sa fille et chaque matin ils descendaient ensemble "
        "vers la riviere pour regarder l eau passer sur les pierres qui "
        "etaient la depuis plus longtemps que personne ne pouvait s en "
        "souvenir quand l hiver arrivait les jours devenaient courts et la "
        "lumiere tombait tot derriere les collines mais le travail de la "
        "ville continuait parce qu il en avait toujours ete ainsi et qu il "
        "en serait toujours ainsi les enfants allaient a l ecole le matin "
        "et rentraient le soir et demandaient ce qu il y avait pour le "
        "diner et s ils pouvaient sortir jouer avant la nuit la plupart du "
        "temps la reponse etait oui s ils avaient d abord fait ce qu on "
        "leur avait demande il n est pas difficile de comprendre pourquoi "
        "les gens sont restes si longtemps dans cet endroit la terre etait "
        "bonne l eau etait propre et les voisins se connaissaient par leur "
        "nom quand quelque chose devait etre fait tout le monde venait et "
        "faisait sa part et quand c etait fini ils s asseyaient a une "
        "longue table et mangeaient et parlaient de ce qui etait arrive et "
        "de ce qui restait a venir et personne n etait presse de partir "
        "car il n y avait pas de meilleur endroit que celui la"
    ),
    "es": (
        "el rapido zorro marron salta sobre el perro perezoso y la gente "
        "del mundo dijo que este es el tiempo para que todos los hombres "
        "buenos vengan en ayuda de su pais con la fuerza de sus manos y la "
        "sabiduria que han reunido durante los anos de sus vidas "
        "habia una casa al final del camino donde vivia un hombre viejo "
        "con su hija y cada manana bajaban juntos al rio y miraban el agua "
        "pasar sobre las piedras que llevaban alli mas tiempo del que "
        "nadie podia recordar cuando llegaba el invierno los dias se "
        "hacian cortos y la luz caia temprano detras de las colinas pero "
        "el trabajo del pueblo seguia porque siempre habia sido asi y "
        "siempre lo seria los ninos iban a la escuela por la manana y "
        "volvian a casa por la tarde y preguntaban que habia para cenar y "
        "si podian salir a jugar antes de que oscureciera la mayoria de "
        "las veces la respuesta era si cuando ya habian hecho lo que se "
        "les habia pedido no es dificil entender por que la gente se quedo "
        "tanto tiempo en ese lugar la tierra era buena el agua era limpia "
        "y los vecinos se conocian por su nombre cuando algo tenia que "
        "hacerse todos venian y hacian su parte y cuando estaba terminado "
        "se sentaban a una mesa larga y comian y hablaban de las cosas que "
        "habian pasado y de las que estaban por venir y nadie tenia prisa "
        "por irse porque no habia mejor lugar que ese al final de un buen "
        "dia de trabajo"
    ),
    "it": (
        "la rapida volpe marrone salta sopra il cane pigro e la gente del "
        "mondo disse che questo e il tempo in cui tutti gli uomini buoni "
        "devono venire in aiuto del loro paese con la forza delle loro "
        "mani e la saggezza che hanno raccolto negli anni della loro vita "
        "c era una casa alla fine della strada dove viveva un vecchio con "
        "sua figlia e ogni mattina scendevano insieme al fiume e "
        "guardavano l acqua passare sulle pietre che stavano li da piu "
        "tempo di quanto chiunque potesse ricordare quando arrivava l "
        "inverno i giorni diventavano corti e la luce cadeva presto "
        "dietro le colline ma il lavoro del paese continuava perche era "
        "sempre stato cosi e cosi sarebbe sempre stato i bambini andavano "
        "a scuola la mattina e tornavano a casa la sera e chiedevano cosa "
        "ci fosse per cena e se potessero uscire a giocare prima che "
        "facesse buio il piu delle volte la risposta era si quando "
        "avevano gia fatto quello che era stato loro chiesto non e "
        "difficile capire perche la gente sia rimasta cosi a lungo in "
        "quel posto la terra era buona l acqua era pulita e i vicini si "
        "conoscevano per nome quando qualcosa doveva essere fatto tutti "
        "venivano e facevano la loro parte e quando era finito si "
        "sedevano a una lunga tavola e mangiavano e parlavano delle cose "
        "che erano successe e di quelle che dovevano ancora venire e "
        "nessuno aveva fretta di andarsene perche non c era posto "
        "migliore di quello alla fine di una buona giornata di lavoro"
    ),
    "pt": (
        "a rapida raposa marrom salta sobre o cao preguicoso e as pessoas "
        "do mundo disseram que este e o tempo para que todos os homens "
        "bons venham em ajuda do seu pais com a forca das suas maos e a "
        "sabedoria que reuniram ao longo dos anos das suas vidas havia "
        "uma casa no fim do caminho onde vivia um homem velho com a sua "
        "filha e todas as manhas desciam juntos ao rio e olhavam a agua "
        "passar sobre as pedras que estavam ali ha mais tempo do que "
        "alguem podia lembrar quando chegava o inverno os dias ficavam "
        "curtos e a luz caia cedo atras das colinas mas o trabalho da "
        "aldeia continuava porque sempre tinha sido assim e sempre seria "
        "as criancas iam para a escola de manha e voltavam para casa a "
        "tarde e perguntavam o que havia para o jantar e se podiam sair "
        "para brincar antes de escurecer na maior parte das vezes a "
        "resposta era sim quando ja tinham feito o que lhes tinha sido "
        "pedido nao e dificil entender por que as pessoas ficaram tanto "
        "tempo naquele lugar a terra era boa a agua era limpa e os "
        "vizinhos conheciam se pelo nome quando algo tinha de ser feito "
        "todos vinham e faziam a sua parte e quando estava terminado "
        "sentavam se a uma mesa comprida e comiam e falavam das coisas "
        "que tinham acontecido e das que estavam por vir e ninguem tinha "
        "pressa de partir porque nao havia melhor lugar do que aquele no "
        "fim de um bom dia de trabalho"
    ),
    "nl": (
        "de snelle bruine vos springt over de luie hond en de mensen van "
        "de wereld zeiden dat dit de tijd is waarin alle goede mannen hun "
        "land te hulp moeten komen met de kracht van hun handen en de "
        "wijsheid die zij in de jaren van hun leven hebben verzameld er "
        "was eens een huis aan het einde van de weg waar een oude man met "
        "zijn dochter woonde en elke ochtend liepen zij samen naar de "
        "rivier en keken naar het water dat langs de stenen stroomde die "
        "daar al langer lagen dan iemand zich kon herinneren toen de "
        "winter kwam werden de dagen kort en viel het licht vroeg achter "
        "de heuvels maar het werk in het dorp ging door want zo was het "
        "altijd geweest en zo zou het altijd blijven de kinderen gingen "
        "s ochtends naar school en kwamen s avonds thuis en vroegen wat "
        "er te eten was en of ze nog buiten mochten spelen voordat het "
        "donker werd meestal was het antwoord ja als ze eerst hadden "
        "gedaan wat hun was gevraagd het is niet moeilijk te begrijpen "
        "waarom de mensen zo lang op die plek zijn gebleven het land was "
        "goed het water was schoon en de buren kenden elkaar bij naam "
        "als er iets gedaan moest worden kwam iedereen en deed zijn deel "
        "en als het klaar was gingen ze aan een lange tafel zitten en "
        "aten en praatten over de dingen die gebeurd waren en de dingen "
        "die nog komen zouden en niemand had haast om te vertrekken want "
        "er was geen betere plek dan daar aan het einde van een goede "
        "werkdag"
    ),
}

NGRAM_PROFILE_K = 80


def _ct_normalize_py(text: str) -> str:
    """The shared normalization (python == Spark == DuckDB): lower,
    every non-letter run -> single space, trimmed."""
    import re

    return re.sub(r"[^a-z]+", " ", text.lower()).strip()


def build_lang_profiles(k: int = NGRAM_PROFILE_K) -> list[tuple[str, str, int]]:
    """(lang, trigram, rank) rows: top-k space-padded char trigrams of
    each seed corpus, ranked by (count desc, trigram asc) — fully
    deterministic, recomputed identically by the DuckDB oracle's
    inlined VALUES table (generated from this same function)."""
    rows: list[tuple[str, str, int]] = []
    for lang, seed in LANG_SEED_TEXTS.items():
        padded = f" {_ct_normalize_py(seed)} "
        counts: dict[str, int] = {}
        for i in range(len(padded) - 2):
            tri = padded[i : i + 3]
            counts[tri] = counts.get(tri, 0) + 1
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        rows += [(lang, tri, r + 1) for r, (tri, _) in enumerate(ranked)]
    return rows


def lang_ngram_predict_udf(k: int = NGRAM_PROFILE_K):
    """The Arrow UDF behind :func:`lang_id_ngram`: a space-padded
    ``[a-z ]`` string -> language code, 'und' for a null string or one
    too short to hold a trigram."""
    langs = list(LANG_SEED_TEXTS)
    n_langs = len(langs)
    # trigram -> per-language rank vector (0 = absent), langs in
    # lang_ord order so np.argmin's first-minimum IS the (dist,
    # lang_ord) tie-break of the published method / the SQL oracle.
    prof_map: dict[int, "np.ndarray"] = {}
    for lang, tri, rank in build_lang_profiles(k):
        code = int.from_bytes(tri.encode("ascii"), "big")
        vec = prof_map.get(code)
        if vec is None:
            vec = np.zeros(n_langs, dtype=np.int64)
            prof_map[code] = vec
        vec[langs.index(lang)] = rank

    @F.pandas_udf("string")
    def _predict(batch: pd.Series) -> pd.Series:
        zero = np.zeros(n_langs, dtype=np.int64)
        out = []
        for p in batch:
            if not isinstance(p, str):
                out.append("und")
                continue
            a = np.frombuffer(p.encode("ascii"), dtype=np.uint8).astype(np.int64)
            if len(a) < 3:
                out.append("und")  # zero trigrams: no evidence
                continue
            codes = (a[:-2] << 16) | (a[1:-1] << 8) | a[2:]
            uniq, cnt = np.unique(codes, return_counts=True)
            # top-k by (count desc, trigram asc); big-endian byte codes
            # order exactly like the trigram strings (same-length ASCII)
            order = np.lexsort((uniq, -cnt))[:k]
            top = uniq[order]
            m = len(top)
            ranks = np.empty((m, n_langs), dtype=np.int64)
            for i in range(m):
                ranks[i] = prof_map.get(int(top[i]), zero)
            doc_rank = np.arange(1, m + 1, dtype=np.int64)[:, None]
            dist = np.where(ranks > 0, np.abs(doc_rank - ranks), k).sum(axis=0)
            out.append(langs[int(np.argmin(dist))])
        return pd.Series(out, dtype=object)

    return _predict


def lang_id_ngram(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = NGRAM_PROFILE_K,
):
    """Cavnar–Trenkle character-trigram language ID over a corpus:
    returns (id, lang_pred) with 'und' for zero-evidence docs.

    Method (the published one, not the marker shortcut): the document's
    top-k trigrams by frequency form its profile; for each language,
    distance = sum over the doc profile of |doc_rank - lang_rank|, with
    a k penalty for trigrams absent from the language profile; argmin
    wins (ties -> language order, zero trigrams -> 'und').

    100 TB shape: the whole method is PER-DOCUMENT-LOCAL, so it runs as
    one vectorized Arrow UDF over the normalized text — ZERO shuffles
    (the former explode/groupBy/window formulation pushed ~3x the
    corpus bytes through four exchanges; kept as
    :func:`_lang_id_ngram_exchange` to pin equivalence). Normalization
    stays a JVM expression (identical to the oracle's regex), so the
    Python side only sees pure ``[a-z ]`` ASCII and does exact integer
    rank/distance math on numpy-coded trigrams. Contract: ``id_col``
    identifies one document per row (the exchange formulation merged
    duplicate ids into one profile; every caller/fixture has unique
    ids)."""
    c = F.col(text_col)
    norm = F.trim(F.regexp_replace(F.lower(c), "[^a-z]+", " "))
    padded = F.when(norm != "", F.concat(F.lit(" "), norm, F.lit(" ")))
    return docs.select(F.col(id_col), lang_ngram_predict_udf(k)(padded).alias("lang_pred"))


def _lang_id_ngram_exchange(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = NGRAM_PROFILE_K,
):
    """The former exchange-based formulation of :func:`lang_id_ngram`
    (explode -> groupBy -> windows -> broadcast-join), retained ONLY as
    the reference implementation for the equivalence test: it mirrors
    the DuckDB oracle SQL operator-for-operator. Not a query path."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    c = F.col(text_col)
    norm = F.trim(F.regexp_replace(F.lower(c), "[^a-z]+", " "))
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    # the padded text is staged as its OWN column before the lambda
    # references it (lambda CSE hazard: an outer expression nested in a
    # transform body re-evaluates per element — the O(n^2) bug class
    # fixed in winnowing_fingerprints)
    tris = docs.filter(norm != "").select(
        F.col(id_col), padded.alias("_p")
    ).select(
        F.col(id_col),
        F.explode(
            F.expr("transform(sequence(1, length(_p) - 2), i -> substring(_p, i, 3))")
        ).alias("tri"),
    )
    doc_prof = (
        tris.groupBy(id_col, "tri")
        .agg(F.count("*").alias("_n"))
        .withColumn(
            "doc_rank",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(F.desc("_n"), F.col("tri"))
            ),
        )
        .filter(F.col("doc_rank") <= k)
        .drop("_n")
    )
    prof = spark.createDataFrame(
        build_lang_profiles(k), "lang string, tri string, lang_rank int"
    )
    langs = spark.createDataFrame(
        [(lang, i) for i, lang in enumerate(LANG_SEED_TEXTS)], "lang string, lang_ord int"
    )
    dists = (
        doc_prof.crossJoin(F.broadcast(langs))
        .join(F.broadcast(prof), ["lang", "tri"], "left")
        .groupBy(id_col, "lang", "lang_ord")
        .agg(
            F.sum(
                F.coalesce(
                    F.abs(F.col("doc_rank") - F.col("lang_rank")), F.lit(k)
                )
            ).alias("dist")
        )
    )
    best = (
        dists.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("dist", "lang_ord")
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(F.col(id_col), F.col("lang").alias("lang_pred"))
    )
    return (
        docs.select(id_col)
        .join(best, id_col, "left")
        .select(F.col(id_col), F.coalesce("lang_pred", F.lit("und")).alias("lang_pred"))
    )


def quality_score(col: Column | str) -> Column:
    """[0,1] heuristic quality: length band + punctuation ratio band +
    stopword presence (the classic pre-training quality gates, each a
    deterministic integer sub-score / 3)."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    n_tokens = token_count(c)
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    # sub-score 1: length in a sane band
    s1 = F.when((n_chars >= 20) & (n_chars <= 20000), 1).otherwise(0)
    # sub-score 2: punctuation below 20% of characters
    s2 = F.when(n_punct * 5 <= n_chars, 1).otherwise(0)
    # sub-score 3: average token length in [3, 12]
    avg_tok = n_chars / F.when(n_tokens == 0, F.lit(1)).otherwise(n_tokens)
    s3 = F.when((avg_tok >= 3.0) & (avg_tok <= 12.0), 1).otherwise(0)
    return ((s1 + s2 + s3) / F.lit(3.0)).alias("quality")


def stopword_ratio(col: Column | str) -> Column:
    """Stopword-token ratio in [0,1] — the classic fluency heuristic
    (C4/Gopher-style: natural prose carries a healthy fraction of
    function words; keyword-stuffed or boilerplate text does not).
    Tokens are the lowercased \\W+ split; the stopword list is the
    reference's own (SharePointClient.cs:61-64), multiplicity counted.
    Empty documents score 0. Pure JVM builtins."""
    c = F.col(col) if isinstance(col, str) else col
    return stopword_ratio_from_tokens(
        F.filter(F.split(F.lower(F.trim(c)), r"\W+"), lambda x: x != F.lit(""))
    )


def stopword_ratio_from_tokens(words: Column) -> Column:
    """Stopword ratio over a pre-tokenized (empty-free) word array — the
    staged-column variant (see lang_id_from_tokens on lambda CSE)."""
    from sharepointcrawler_spark.sources.odata import STOPWORDS_REFERENCE

    stops = F.size(F.filter(words, lambda x: x.isin(*STOPWORDS_REFERENCE)))
    return stops / F.greatest(F.size(words), F.lit(1)).cast("double")


def portable_hash64(col: Column | str) -> Column:
    """Engine-portable 64-bit-ish hash: first 15 hex chars of md5 as a
    long (DuckDB: ('0x' || substr(md5(x),1,15))::UBIGINT). Used wherever
    the DuckDB oracle must reproduce hashes exactly; xxhash64 stays the
    engine-internal key (it is faster but not portable)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash64(col: Column | str, portable: bool = True) -> Column:
    """The dedup-key hash with a production fast path: ``portable=True``
    (default) is the md5-derived int64 every DuckDB oracle recomputes;
    ``portable=False`` is Spark's native ``xxhash64`` — same 64-bit key
    semantics, no Python, substantially cheaper per byte, but not
    reproducible outside Spark. Dedup RESULTS are hash-choice-invariant
    (tested in test_corpus_ops): only the opaque key values differ."""
    if portable:
        return portable_hash64(col)
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c)


def doc_fingerprint(col: Column | str) -> Column:
    """Whole-document fingerprint over normalized text (exact-dedup key)."""
    return F.md5(normalize_text(col))


def winnowing_fingerprints(
    docs, k: int = 3, w: int = 4, text_col: str = "text", id_col: str = "doc_id"
):
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    k-word-gram rolling hashes, minimum per sliding window of w grams,
    distinct minima = the fingerprint set. Guarantees any shared run of
    >= k+w-1 words between two documents shares a fingerprint.

    100% JVM builtins (split -> gram array -> portable hash transform ->
    windowed array_min -> array_distinct -> explode): no shuffle at all
    until the caller aggregates, and byte-equal to a DuckDB list-ops
    oracle. Returns (id, fp) rows.

    Each stage is materialized as its OWN projection column before the
    next lambda references it: an outer expression nested textually
    inside a transform() lambda is re-evaluated per element (codegen CSE
    does not reach lambda bodies), which turns the pipeline O(n^2) in
    md5 calls per document — measured 27 s vs ~1 s at sf0.01. The
    multi-reference projections also block CollapseProject from
    re-inlining them."""
    from pyspark.sql import functions as F

    words = F.split(normalize_text(text_col), " ")
    staged = docs.select(F.col(id_col), words.alias("_w"))
    gram_hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("_w") - F.lit(k - 1), F.lit(1))),
        lambda i: F.conv(
            F.substring(F.md5(F.concat_ws(" ", F.slice("_w", i, k))), 1, 15), 16, 10
        ).cast("long"),
    )
    staged = staged.select(F.col(id_col), gram_hashes.alias("_gh"))
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("_gh") - F.lit(w - 1), F.lit(1))),
        lambda j: F.array_min(F.slice("_gh", j, w)),
    )
    return staged.select(
        F.col(id_col), F.explode(F.array_distinct(mins)).alias("fp")
    )


def trimmed_lines(col: Column | str) -> Column:
    """Non-empty trimmed lines of a text column — the SINGLE definition
    of 'a line' shared by the repetition signals and the corpus
    paragraph dedup (both feed hash-parity oracles whose SQL mirrors
    this exact expression; two private copies could drift)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.transform(F.split(c, "\n"), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )


def repetition_signals(docs, text_col: str = "text", id_col: str = "doc_id"):
    """Gopher-style repetition quality signals (Rae et al. 2021,
    appendix A1.1 — the standard pre-training repetition filters; also
    used by Dolma/RedPajama): per document,

    * ``n_lines`` — non-empty trimmed lines,
    * ``dup_line_frac`` — fraction of lines that are repeats of an
      earlier line (occurrences beyond the first / total lines),
    * ``dup_line_char_frac`` — fraction of line characters carried by
      those repeated occurrences,
    * ``top_bigram_char_frac`` — word characters covered by the most
      frequent word 2-gram / total word characters (ties broken by
      bigram length then lexicographically — deterministic in both
      engines).

    100 TB shape: every signal is PER-DOCUMENT-LOCAL, so the whole
    family runs as one Arrow UDF over the JVM-computed line/word
    arrays — ZERO shuffles. The former explode formulation pushed the
    near-unique (doc, bigram) rows — essentially the corpus bytes —
    through a groupBy exchange that partial aggregation cannot shrink;
    it is kept as :func:`_repetition_signals_exchange` to pin
    equivalence. Tokenization stays in the JVM (identical
    ``trimmed_lines`` / split expressions), Python only counts exact
    integers; divisions are the same exact-int IEEE doubles, string
    ties compare identically (UTF-8 byte order == code-point order),
    so the surface stays hash-oracle-safe. Docs with no lines / fewer
    than two words score zero (flag-side neutral), never NULL."""
    text = F.col(text_col)
    lines_col = trimmed_lines(text)
    words_col = F.filter(
        F.split(F.lower(F.trim(text)), r"\W+"), lambda x: x != F.lit("")
    )

    @F.pandas_udf(
        "struct<n_lines:long, dup_line_frac:double,"
        " dup_line_char_frac:double, top_bigram_char_frac:double>"
    )
    def _signals(lines: pd.Series, words: pd.Series) -> pd.DataFrame:
        n_lines_out, dlf_out, dlcf_out, tbf_out = [], [], [], []
        for ls, ws in zip(lines, words):
            if ls is None:
                ls = ()
            if ws is None:
                ws = ()
            n_lines = len(ls)
            seen: dict = {}
            dup = line_chars = dup_chars = 0
            for ln in ls:
                c = seen.get(ln, 0)
                seen[ln] = c + 1
                ll = len(ln)
                line_chars += ll
                if c:
                    dup += 1
                    dup_chars += ll
            wc = 0
            for w in ws:
                wc += len(w)
            if len(ws) >= 2 and wc > 0:
                bc: dict = {}
                prev = ws[0]
                for w in ws[1:]:
                    bg = prev + " " + w
                    bc[bg] = bc.get(bg, 0) + 1
                    prev = w
                cnt, blen, _b = max((c, len(b), b) for b, c in bc.items())
                tbf = cnt * (blen - 1) / wc
            else:
                tbf = 0.0
            n_lines_out.append(n_lines)
            dlf_out.append(dup / n_lines if n_lines > 0 else 0.0)
            dlcf_out.append(dup_chars / line_chars if line_chars > 0 else 0.0)
            tbf_out.append(tbf)
        return pd.DataFrame(
            {
                "n_lines": pd.Series(n_lines_out, dtype="int64"),
                "dup_line_frac": pd.Series(dlf_out, dtype="float64"),
                "dup_line_char_frac": pd.Series(dlcf_out, dtype="float64"),
                "top_bigram_char_frac": pd.Series(tbf_out, dtype="float64"),
            }
        )

    return docs.select(
        F.col(id_col), _signals(lines_col, words_col).alias("_s")
    ).select(
        id_col,
        F.col("_s.n_lines").alias("n_lines"),
        F.col("_s.dup_line_frac").alias("dup_line_frac"),
        F.col("_s.dup_line_char_frac").alias("dup_line_char_frac"),
        F.col("_s.top_bigram_char_frac").alias("top_bigram_char_frac"),
    )


def _repetition_signals_exchange(docs, text_col: str = "text", id_col: str = "doc_id"):
    """The former explode/groupBy formulation of
    :func:`repetition_signals`, retained ONLY as the reference
    implementation for the equivalence test: it mirrors the DuckDB
    oracle SQL operator-for-operator. Not a query path."""
    from pyspark.sql import DataFrame  # noqa: F401 (signature clarity)

    text = F.col(text_col)
    lines = docs.select(F.col(id_col), trimmed_lines(text).alias("_lines")).select(
        id_col, F.explode("_lines").alias("line")
    )
    per_line = lines.groupBy(id_col, "line").agg(F.count("*").alias("cnt"))
    line_agg = per_line.groupBy(id_col).agg(
        F.sum("cnt").alias("n_lines"),
        F.sum(F.col("cnt") - 1).alias("dup_lines"),
        F.sum(F.col("cnt") * F.length("line")).alias("line_chars"),
        F.sum((F.col("cnt") - 1) * F.length("line")).alias("dup_line_chars"),
    )

    words = F.filter(
        F.split(F.lower(F.trim(text)), r"\W+"), lambda x: x != F.lit("")
    )
    wstaged = docs.select(F.col(id_col), words.alias("_w"))
    wchars = wstaged.select(
        id_col,
        F.size("_w").alias("n_words"),
        F.aggregate(
            "_w", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("word_chars"),
    )
    bigrams = F.when(
        F.size("_w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_w") - 1),
            lambda i: F.concat_ws(" ", F.slice("_w", i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = wstaged.select(id_col, F.explode(bigrams).alias("bigram"))
    bgc = bg.groupBy(id_col, "bigram").agg(F.count("*").alias("cnt"))
    top = bgc.groupBy(id_col).agg(
        F.max(
            F.struct(
                F.col("cnt").alias("cnt"),
                F.length("bigram").alias("blen"),
                F.col("bigram").alias("bigram"),
            )
        ).alias("_t")
    )

    out = (
        docs.select(F.col(id_col))
        .join(line_agg, id_col, "left")
        .join(wchars, id_col, "left")
        .join(top, id_col, "left")
    )
    n_lines = F.coalesce("n_lines", F.lit(0))
    wc = F.coalesce("word_chars", F.lit(0))
    return out.select(
        F.col(id_col),
        n_lines.cast("long").alias("n_lines"),
        F.when(
            n_lines > 0, F.col("dup_lines") / F.col("n_lines")
        ).otherwise(F.lit(0.0)).alias("dup_line_frac"),
        F.when(
            F.coalesce("line_chars", F.lit(0)) > 0,
            F.col("dup_line_chars") / F.col("line_chars"),
        ).otherwise(F.lit(0.0)).alias("dup_line_char_frac"),
        F.when(
            F.col("_t").isNotNull() & (wc > 0),
            # bigram chars = len("w1 w2") - 1 separator, per occurrence
            (F.col("_t.cnt") * (F.col("_t.blen") - 1)) / wc.cast("double"),
        ).otherwise(F.lit(0.0)).alias("top_bigram_char_frac"),
    )
