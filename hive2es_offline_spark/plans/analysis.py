"""The analysis chain: text → token stream, shared by every query/score
surface (match, BM25, suggesters, highlight, significant_text,
``_analyze``).

The reference's generated mappings declare string fields ``not_analyzed``
(``PAHive2ES.scala:126-159``), but the alias its loader publishes serves
ordinary consumers (``ESClient.java:154-170``) who type queries against
REAL text — and ES's default ``standard`` analyzer splits on
punctuation/Unicode word boundaries, not spaces.  Rounds 1-8 used
lowercase + whitespace split everywhere, so ``match: "world"`` missed
``"world!"``; this module makes the chain punctuation-aware and keeps one
definition of "token" across all three execution contexts:

- **Spark side** (``analyze_sql``, applied by ``analyze_col``): the
  chain rendered as Spark-SQL text and parsed once —
  ``regexp_extract_all`` with a UAX#29-flavored token pattern, plain
  codegen, no UDF, so match/BM25 tokenization stays inside
  WholeStageCodegen at any scale.
- **Driver/Python side** (``analyze_text``): the same pattern via ``re``
  for query strings, highlight term lists, and suggester inputs.
- **Oracle side** (``DUCKDB_TOKEN_RE`` / ``duckdb_tokens``): the same
  pattern in RE2 syntax for DuckDB parity SQL.

Token grammar (the ``standard`` analyzer, a documented approximation of
UAX#29 word segmentation): maximal runs of letters / digits / underscore,
where a single apostrophe or dot BETWEEN two such runs joins them —
``"don't"`` → ``don't``, ``"2.5"`` → ``2.5``, ``"u.s.a."`` → ``u.s.a``,
``"foo_bar"`` → ``foo_bar`` (UAX#29 MidLetter / MidNumLet / ExtendNumLet
rules), while every other punctuation run splits.  Tokens are lowercased
(the standard analyzer's lowercase filter).

``whitespace`` remains as the fallback analyzer with the historical
semantics (lowercase + split on space runs) for corpora indexed that way.

Language chains (round 11): an analyzer is a tokenizer plus an ordered
FILTER CHAIN — possessive strip → stopword removal → stemming → synonym
rewrite — mirroring ES's stock ``english`` analyzer (standard tokenizer,
``english_possessive_stemmer``, ``lowercase``, ``english_stop``, stemmer).
The built-in ``english`` analyzer enables possessive + Lucene's 33-word
English stop set + the light stemmer; ``register_analyzer`` declares
custom named chains (the ES ``settings.analysis.analyzer`` surface), e.g.
a synonym analyzer.  Every filter stays expressible in ALL THREE contexts
— the Spark-SQL renderer stays pure codegen (``transform``/``filter`` +
regex, no UDF), and its stemmer steps and the DuckDB oracle's come from
one renderer over the same rule tables, so the one-grammar rule extends
to the whole chain.  ``tests/test_analysis.py::TestSqlChainTwin`` pins
the Spark renderer, the Python chain and the DuckDB oracle against each
other for every registered analyzer.

The stemmer is a LIGHT ENGLISH STEMMER (Porter-class): Porter's step 1a
(plurals), 1b (eed/ed/ing with the longest-suffix-blocks rule and the
at/bl/iz + de-double cleanup), a five-row step-2 table (ational→ate,
ization→ize, iveness→ive, fulness→ful, ousness→ous), 1c (y→i), 5a (final
-e) and 5b (-ll), with Porter's measure conditions approximated by
vowel-presence / length guards so every rule is ONE anchored regex that
means the same thing in Java regex, Python ``re``, and RE2 (no
lookarounds, no backreferences — RE2 has neither).  It is deliberately
NOT exact Porter/Snowball (no network, no snowball library in any of the
three engines): what matters for search is that corpus and query stem
IDENTICALLY, which holds by construction — "running"→"run", "ponies" and
"pony"→"poni", "hoping" and "hope"→"hop".  Known, documented departures:
final-s drop keeps -ss/-us; measure m>0/m>1 become vowel/length guards.

The default is process-wide-per-plan-build (``using()`` context manager /
the ``analyzer=`` option on the public entry points): the analyzer
resolves at PLAN BUILD time on the driver, so no executor ever reads this
module's state.
"""

from __future__ import annotations

import contextvars
import re
from dataclasses import dataclass, field
from contextlib import contextmanager

from pyspark.sql import Column

from ..operators.util import sql_bind, sql_let
from ..operators.util import sql_string as _sq

__all__ = [
    "analyze_col", "analyze_text", "using", "current_analyzer",
    "DUCKDB_TOKEN_RE", "ANALYZERS", "register_analyzer", "analyzer_names",
    "ENGLISH_STOPWORDS", "FRENCH_STOPWORDS", "GERMAN_STOPWORDS",
    "SPANISH_STOPWORDS", "ITALIAN_STOPWORDS", "PORTUGUESE_STOPWORDS",
    "RUSSIAN_STOPWORDS", "DUTCH_STOPWORDS",
    "stem_text", "fold_text",
    "sayt_subfield", "shingle_sql", "shingle_terms", "field_terms",
    "duckdb_shingles",
]

#: Java regex (Spark side).  \p{L}/\p{N} are Unicode general categories.
_JAVA_TOKEN = r"[\p{L}\p{N}_]+(?:['.][\p{L}\p{N}_]+)*"
#: Python re: \w == [letter, digit, underscore, …] under str patterns.
_PY_TOKEN = re.compile(r"\w+(?:['.]\w+)*")
#: RE2 (DuckDB regexp_extract_all) — same classes as the Java pattern.
DUCKDB_TOKEN_RE = r"[\p{L}\p{N}_]+(?:['.][\p{L}\p{N}_]+)*"

#: CJK codepoint ranges (round 14) — ONE literal-range table shared by
#: all three renderings, so Java \p{IsHan}-vs-RE2 \p{Han} edge-class
#: differences cannot desync them: hiragana+katakana, CJK Extension A,
#: CJK Unified, CJK Compatibility, hangul syllables.
_CJK_RANGES = ("぀-ヿ" "㐀-䶿" "一-鿿"
               "豈-﫿" "가-힯")
#: the ``cjk`` tokenizer is TWO-PASS: the standard token grammar first
#: (fast — its regex is ASCII-friendly), then a per-token script split
#: applied ONLY to tokens that contain a CJK character.  One combined
#: regex over the whole text priced at 12× the two-pass form on an
#: ASCII corpus (the common case at corpus scale — the intersection
#: class defeats the regex engine's ASCII fast path on every position)
#: and was no faster on CJK-heavy text (SCALE.md "Round-14 probes").
#: Tokens with NO CJK character pass through whole, keeping the full
#: standard grammar (incl. apostrophe/dot joining); a token containing
#: CJK splits on the plain two-class pattern (its rare interior
#: apostrophes/dots drop, like the single-regex form did).  Java
#: renders the split's word-minus-CJK with class intersection, Python
#: with \w double negation, RE2 with a \P{L}-negated class +
#: digit/underscore alternation — three dialects, one semantics
#: (pinned three-way by tests/test_analysis.py::TestSqlChainTwin).
_JAVA_CJK_SPLIT = (f"[{_CJK_RANGES}]+"
                   f"|[\\p{{L}}\\p{{N}}_&&[^{_CJK_RANGES}]]+")
_PY_CJK_SPLIT = re.compile(
    f"[{_CJK_RANGES}]+|[^\\W{_CJK_RANGES}]+")
_DUCK_CJK_SPLIT = (
    f"[{_CJK_RANGES}]+"
    f"|(?:[^\\P{{L}}{_CJK_RANGES}]|[\\p{{N}}_])+")
_CJK_ANY = f"[{_CJK_RANGES}]"
_PY_CJK_ANY = re.compile(_CJK_ANY)
_CJK_FULL = f"^[{_CJK_RANGES}]+$"
_PY_CJK_FULL = re.compile(_CJK_FULL)

#: Lucene EnglishAnalyzer.ENGLISH_STOP_WORDS_SET (33 words) — checked
#: AFTER lowercasing, BEFORE stemming, exactly Lucene's filter order.
ENGLISH_STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with",
)

# ---------------------------------------------------------------------------
# The stemmer rule table — ONE definition, three dialect renderings.
#
# Every entry is (anchored condition regex, suffix regex, literal
# replacement | None).  replacement None = "drop the last character"
# (rendered as regexp_replace '.{1}$' → '' — the only portable way to
# halve a doubled consonant, since RE2 patterns have no backreferences).
# Steps run in order; within a step the FIRST matching row wins and rows
# marked block=True stop the step even when they change nothing (Porter's
# longest-suffix rule: "feed" ends -eed with m=0, so the -ed rule must
# NOT fire).
# ---------------------------------------------------------------------------

#: step 1a — plurals (first match wins)
_STEP_1A = (
    ("^.*sses$", "es$", ""),          # caresses → caress
    ("^.+ies$", "es$", ""),           # ponies → poni  (ies → i)
    ("^.+[^su]s$", "s$", ""),         # cats → cat; keeps -ss, -us
)
#: step 1b — eed / ed / ing.  Row 2 is the Porter blocker: a word ending
#: -eed whose prefix lacks a vowel-consonant pair stays UNCHANGED and the
#: -ed rule never sees it.
_P_EED_OK = "^.*[aeiouy][^aeiouy].*eed$"
_P_EED_ANY = "^.*eed$"
_P_ED = "^.*[aeiouy].*ed$"            # a vowel strictly before the suffix
_P_ING = "^.*[aeiouy].*ing$"
#: 1b cleanup (only after -ed/-ing removal; first match wins)
_P_ATBLIZ = "^.*(at|bl|iz)$"          # conflat(ed) → conflate
_P_DOUBLE = ("^.*(bb|cc|dd|ff|gg|hh|jj|kk|mm|nn|pp|qq|rr|tt|vv|ww|xx)$")
#: step 2 (light) — common derivational suffixes (first match wins)
_STEP_2 = (
    ("^.{2,}ational$", "ational$", "ate"),
    ("^.{2,}ization$", "ization$", "ize"),
    ("^.{2,}iveness$", "iveness$", "ive"),
    ("^.{2,}fulness$", "fulness$", "ful"),
    ("^.{2,}ousness$", "ousness$", "ous"),
)
#: step 1c — y → i when a TRUE vowel precedes (sky stays sky)
_P_Y = "^.*[aeiou].*y$"
#: step 5a / 5b — final -e (len ≥ 4), -ll → -l (len ≥ 5)
_P_E = "^.{3,}e$"
_P_LL = "^.{3,}ll$"

#: possessive filter — the token grammar only admits ASCII ' between
#: alnum runs, so 's can only appear terminally via "john's"
_P_POSS = "'s$"

# ---------------------------------------------------------------------------
# French minimal stemmer (round 12) — an approximation of Savoy's minimal
# French stemmer (the shape Lucene ships as FrenchMinimalStemmer): plural
# -x handling (chevaux → cheval, châteaux → château), then sequential
# final s / r / e / é drops and a final de-double, every rule one
# anchored regex valid in Java regex, Python re, and RE2.  Documented
# departures from Lucene: the ≥6-length guard is RE-CHECKED per pass
# (Lucene checks the original length once — re-checking under-stems a
# handful of short words, never over-stems), and the -x branch does not
# suppress the later passes (harmless for real French, where dropping a
# final x always exposes a vowel).  Every rule edits only the suffix
# with replacement[:-1] a prefix of the replaced suffix, so the
# stem-prefix guard invariant stem(t)[:-1] ⊑ t holds (fuzzed in
# tests/test_analysis.py like the English table).
# ---------------------------------------------------------------------------

#: plural/gender -x (first match wins): eaux → eau, aux → al, x → ''
_FR_STEP_X = (
    ("^.{2,}eaux$", "x$", ""),        # châteaux → château
    ("^.{3,}aux$", "aux$", "al"),     # chevaux → cheval
    ("^.{5,}x$", "x$", ""),           # généreux → généreu
)
#: sequential final-char drops, each on the CURRENT token (len ≥ 6)
_FR_DROPS = ("^.{5,}s$", "^.{5,}r$", "^.{5,}e$", "^.{5,}é$")
#: final doubled letter halves (len ≥ 6): personne → personn → person
_FR_DOUBLE = ("^.{4,}(aa|bb|cc|dd|ee|ff|gg|hh|ii|jj|kk|ll|mm|nn|oo|pp|"
              "qq|rr|ss|tt|uu|vv|ww|xx|yy|zz)$")

#: elision articles (ES french analyzer's default elision set) — longest
#: alternatives first; given the mandatory trailing apostrophe at most
#: one alternative can match any token, so Java/Python/RE2 alternation
#: order differences cannot diverge
_P_ELISION = "^(?:jusqu|quoiqu|lorsqu|puisqu|qu|[ldjtmnsc])'"
#: ES italian analyzer's default italian_elision article set (same
#: one-alternative-per-token property: the trailing apostrophe pins the
#: match length)
_P_ELISION_IT = ("^(?:dall|dell|nell|sull|coll|pell|dagl|degl|negl|sugl|"
                 "all|agl|un|gl|[cldmtsv])'")


def _elision_pat(elision) -> str:
    """The elision regex for a spec/flag: ``True`` keeps the historical
    French set; a string IS the pattern (italian passes its own)."""
    return _P_ELISION if elision is True else str(elision)

# ---------------------------------------------------------------------------
# German light stemmer (round 13) — Savoy's light German stemmer, the
# shape Lucene ships as GermanLightStemmer: two suffix-stripping steps
# (step 1: -ern / -em -en -er -es / -e / consonant+-s; step 2: -est /
# consonant+-st), each a first-match-wins anchored-regex table valid in
# Java regex, Python re, and RE2.  Lucene's internal umlaut substitution
# (ä→a ö→o ü→u) is NOT part of this table — the built-in "german" chain
# runs the asciifolding char filter first (the documented approximation
# of ES's german_normalization: identical on the German letters, folds
# other accents too, which is harmless in German text), keeping every
# stemmer rule suffix-only so the stem-prefix guard invariant
# stem(t)[:-1] ⊑ t holds (fuzzed in tests/test_analysis.py).
# ---------------------------------------------------------------------------

#: step 1 — plural/case endings (first match wins).  Length guards match
#: Lucene: -ern needs len>5, -e(m|n|r|s) len>4, -e len>3, -s len>3 and a
#: "stemmable" consonant before it.
_DE_ST_CONS = "bdfghklmnt"
_DE_STEP_1 = (
    ("^.{3,}ern$", "ern$", ""),                   # kindern → kind
    ("^.{3,}e[mnrs]$", "e[mnrs]$", ""),           # hauses → haus
    ("^.{3,}e$", "e$", ""),                       # hunde → hund
    (f"^.{{2,}}[{_DE_ST_CONS}]s$", "s$", ""),     # films → film
)
#: step 2 — superlative/inflection -est / -st (first match wins)
_DE_STEP_2 = (
    ("^.{3,}est$", "est$", ""),                   # schnellstem→…→schnell
    (f"^.{{2,}}[{_DE_ST_CONS}]st$", "st$", ""),   # kleinst → klein
)

# ---------------------------------------------------------------------------
# Spanish light stemmer (round 13) — Savoy's light Spanish stemmer, the
# shape Lucene ships as SpanishLightStemmer: one first-match-wins step
# over words of length ≥ 5 (plural -es forms first, then -ces → -z, then
# vowel plurals, then final vowels).  Lucene folds accented vowels
# inside the stemmer; the built-in "spanish" chain runs asciifolding
# first instead (documented approximation — uniform folding also catches
# words the length guard would skip), so every rule below is suffix-only
# and the stem-prefix guard invariant holds.
# ---------------------------------------------------------------------------

_ES_STEP = (
    ("^.{1,}eses$", "es$", ""),                   # meses → mes
    ("^.{2,}ces$", "ces$", "z"),                  # luces → luz
    ("^.{3,}[oae]s$", "[oae]s$", ""),             # libros → libr
    ("^.{4,}[oae]$", "[oae]$", ""),               # libro → libr
)

# ---------------------------------------------------------------------------
# Italian light stemmer (round 13) — Savoy-style final-vowel removal
# with -i-diphthong handling, ONE first-match-wins table over folded
# tokens of length ≥ 6 (shorter words pass through, the light-stemmer
# convention).  Every rule is a pure suffix DROP, so the stem-prefix
# guard invariant stem(t)[:-1] ⊑ t holds trivially (fuzzed like the
# other chains).  Conflation examples: figlie/figlia/figlio → figl,
# ragazzi/ragazzo → ragazz, veloci → veloc; 5-letter words (amico,
# libri) pass through under the length guard — amiche → amic conflates
# with NOTHING shorter, exactly the light-stemmer convention.
# ---------------------------------------------------------------------------

_IT_STEP = (
    ("^.{4,}[ih][ei]$", "[ih][ei]$", ""),         # amiche → amic
    ("^.{4,}i[ao]$", "i[ao]$", ""),               # figlia/figlio → figl
    ("^.{5,}[aeio]$", "[aeio]$", ""),             # ragazzi → ragazz
)

# ---------------------------------------------------------------------------
# Portuguese light stemmer (round 13) — Savoy-style two-step chain over
# folded tokens: step 1 rewrites the plural (folded -ões/-ães → -ão,
# -ais/-eis/-ois → -al/-el/-ol, generic -s drop keeping -ss), step 2
# drops one final vowel (a/e/o, length ≥ 5).  Conflation examples:
# limões/limão → lima, animais/animal → animal, papéis/papel → papel,
# livros/livro → livr, flores/flor → flor (via -s then -e).
# Guard invariant: the -ais/-eis/-ois rewrites diverge from the surface
# only at the LAST stem char (the french aux→al class) and the -ões
# rule's ≥ 6-length guard guarantees step 2 fires on its output (…ao →
# …a), so stem(t)[:-1] ⊑ t holds for every path (fuzzed).
# ---------------------------------------------------------------------------

_PT_STEP_1 = (
    ("^.{3,}oes$", "oes$", "ao"),                 # limoes → limao
    ("^.{1,}aes$", "aes$", "ao"),                 # caes → cao
    ("^.{2,}ais$", "ais$", "al"),                 # animais → animal
    ("^.{2,}eis$", "eis$", "el"),                 # papeis → papel
    ("^.{2,}ois$", "ois$", "ol"),                 # lencois → lencol
    ("^.{2,}[^s]s$", "s$", ""),                   # livros → livro
)
_PT_STEP_2 = (
    ("^.{4,}[aeo]$", "[aeo]$", ""),               # livro → livr
)

# ---------------------------------------------------------------------------
# Russian light stemmer (round 14, VERDICT r13 #6) — a Savoy-class
# light stemmer in the shape Lucene ships as RussianLightStemmer: step 1
# strips ONE case/number ending (first-match-wins across four length
# tiers: 4-char instrumental plurals, 3-char oblique plurals /
# adjectival genitives, 2-char adjectival/nominal endings, then a single
# final vowel / й / ь), step 2 normalizes the remainder (soft sign drop,
# -ии/-еи collapse, doubled-н halving).  DOCUMENTED APPROXIMATION, not
# a transcription of Lucene's table: what search needs is that corpus
# and query stem IDENTICALLY, which holds by construction (the module
# rule).  Every rule is a pure suffix DROP over literal Cyrillic
# characters — one anchored regex valid in Java regex, Python re, and
# RE2 — so the stem-prefix guard invariant stem(t)[:-1] ⊑ t holds
# trivially (fuzzed in tests/test_analysis.py like every other chain).
# Conflation examples: книгами/книгах/книги/книга → книг,
# красного/красному/красный → красн, историями/история → истор.
# The chain folds first (the fold table's ё→е row is the Cyrillic
# normalization ES performs via russian stemming), keeping the rules
# ё-free.
# ---------------------------------------------------------------------------

_RU_STEP_1 = (
    ("^.{3,}[ио]ями$", "[ио]ями$", ""),           # историями → истор
    ("^.{3,}(?:иям|иях|оям|оях|ами|ями|ыми|ими|его|ого|ему|ому|оев)$",
     "(?:иям|иях|оям|оях|ами|ями|ыми|ими|его|ого|ему|ому|оев)$", ""),
    ("^.{3,}(?:ая|яя|ах|ях|ую|юю|ой|ей|ий|ый|ом|ем|ам|ям|ов|ев|ых|их|"
     "ия|ию|ии|ея|ею|ою|ые|ие|ми)$",
     "(?:ая|яя|ах|ях|ую|юю|ой|ей|ий|ый|ом|ем|ам|ям|ов|ев|ых|их|"
     "ия|ию|ии|ея|ею|ою|ые|ие|ми)$", ""),
    ("^.{3,}[аеиоуыяюйь]$", "[аеиоуыяюйь]$", ""),  # книга → книг
)
_RU_STEP_2 = (
    ("^.{3,}ь$", "ь$", ""),                       # власть → власт
    ("^.{2,}[еи]и$", "и$", ""),                   # линии → лини
    ("^.{2,}нн$", "н$", ""),                      # каменн → камен
)

#: compact Russian stop set (the high-frequency core of Snowball's
#: Russian stopword list — conjunctions, prepositions, pronouns and
#: быть forms); surface form, folded at registry construction (ё→е)
RUSSIAN_STOPWORDS = (
    "и", "в", "во", "не", "что", "он", "на", "я", "с", "со", "как",
    "а", "то", "все", "она", "так", "его", "но", "да", "ты", "к", "у",
    "же", "вы", "за", "бы", "по", "только", "ее", "её", "мне", "было",
    "вот", "от", "меня", "ещё", "еще", "нет", "о", "из", "ему",
    "теперь", "когда", "даже", "ну", "ли", "если", "уже", "или", "ни",
    "быть", "был", "была", "были", "него", "до", "вас", "вам", "ведь",
    "там", "потом", "себя", "ничего", "ей", "может", "они", "тут",
    "где", "есть", "надо", "ней", "для", "мы", "тебя", "их", "чем",
    "сам", "чтобы", "без", "будто", "чего", "раз", "тоже", "себе",
    "под", "будет", "тогда", "кто", "этот", "это", "эта", "эти",
)

# ---------------------------------------------------------------------------
# Dutch light stemmer (round 14, VERDICT r13 "missing #4" tail) — a
# Savoy-class light chain in the convention of the other language rows,
# DOCUMENTED APPROXIMATION of Lucene's Dutch stemming (Lucene ships the
# heavier Kraaij-Pohlmann Snowball variant; what search needs is that
# corpus and query stem IDENTICALLY, which holds by construction).
# Step 1 strips the -s plural layer (first-match-wins): -heden/-heid
# abstract nouns drop whole (mogelijkheden/mogelijkheid → mogelijk),
# diminutive plural -jes and unstressed-coda [rlmn]s drop the s
# (huisjes → huisje, jongens → jongen).  Step 2 strips ONE -en / -e
# inflection (boeken → boek, katten → katt, witte → witt) — a SEPARATE
# step, not a step-1 row, so the -s plural and its singular land on the
# SAME stem (jongens → jongen → jong conflates with jongen → jong;
# folding them into one first-match-wins table left the pair divergent).
# Step 3 undoubles a final doubled consonant (katt → kat, witt → wit —
# conflating with the uninflected kat/wit forms).
# Every rule is a pure suffix DROP over ASCII letters — one anchored
# regex valid in Java regex, Python re, and RE2 — so the stem-prefix
# guard invariant stem(t)[:-1] ⊑ t holds trivially (fuzzed in
# tests/test_analysis.py like every other chain).  Known light-stemmer
# limits, documented: no v/f–z/s alternation (huizen → huiz does NOT
# conflate with huis) and no long-vowel restore (grote → grot does NOT
# conflate with groot) — the same class of accepted misses as the
# german/italian rows.  The -s drop is gated to the unstressed-syllable
# codas that actually take the -s plural in Dutch ([rlmn]s, -jes), so
# -ts/-ks singulars (fiets, heks) are never clipped out from under
# their -en plurals.  Conflation examples: katten/kat → kat,
# boeken/boek → boek, mogelijkheden/mogelijkheid → mogelijk,
# jongens/jongen → jongen, witte/wit → wit, vogels/vogel → vogel.
# ---------------------------------------------------------------------------

_NL_STEP_1 = (
    ("^.{3,}(?:heden|heid)$", "(?:heden|heid)$", ""),  # mogelijkheden
    ("^.{3,}jes$", "s$", ""),                     # huisjes → huisje
    ("^.{3,}[rlmn]s$", "s$", ""),                 # jongens → jongen
)
_NL_STEP_2 = (
    ("^.{3,}en$", "en$", ""),                     # boeken → boek
    ("^.{4,}e$", "e$", ""),                       # witte → witt
)
_NL_STEP_3 = (
    ("^.{2,}(?:bb|dd|ff|gg|kk|ll|mm|nn|pp|rr|ss|tt)$",
     "[bdfgklmnprst]$", ""),                      # katt → kat
)

#: compact Dutch stop set (the high-frequency core of Snowball's Dutch
#: stopword list — articles, prepositions, pronouns, auxiliaries);
#: surface form, folded at registry construction (één → een)
DUTCH_STOPWORDS = (
    "de", "en", "van", "ik", "te", "dat", "die", "in", "een", "hij",
    "het", "niet", "zijn", "is", "was", "op", "aan", "met", "als",
    "voor", "had", "er", "maar", "om", "hem", "dan", "zou", "of",
    "wat", "mijn", "men", "dit", "zo", "door", "over", "ze", "zich",
    "bij", "ook", "tot", "je", "mij", "uit", "der", "daar", "haar",
    "naar", "heb", "hoe", "heeft", "hebben", "deze", "u", "want",
    "nog", "zal", "me", "zij", "nu", "ge", "geen", "omdat", "iets",
    "worden", "toch", "al", "waren", "veel", "meer", "doen", "toen",
    "moet", "ben", "zonder", "kan", "hun", "dus", "alles", "onder",
    "ja", "eens", "hier", "wie", "werd", "altijd", "doch", "wordt",
    "wezen", "kunnen", "ons", "zelf", "tegen", "na", "reeds", "wil",
    "kon", "niets", "uw", "iemand", "geweest", "andere",
)

# ---------------------------------------------------------------------------
# asciifolding (round 12, widened round 13/14) — ES's asciifolding token
# filter over the Latin-1 AND Latin-Extended-A/B letters that appear in
# Western/Central/Northern European text (VERDICT r12 #3: web corpora
# hit german compounds and ő/ř/ș routinely): ONE from/to table rendered
# as translate() in Spark, DuckDB and Python (plus digraph replaces for
# the one-to-many foldings), so the three contexts cannot drift.  Input
# tokens are already lowercased by the tokenizer.  Round 14 adds the
# ONE Cyrillic row ё→е (the russian chain's normalization — ё and е
# spell the same words in running Russian text); folding it here keeps
# every Russian stemmer rule a plain suffix drop.
# ---------------------------------------------------------------------------

_FOLD_FROM = (
    "àáâãäåçèéêëìíîïñòóôõöøùúûüýÿð"               # Latin-1
    "āăąćĉċčďđēĕėęěĝğġģĥħĩīĭįıĵķĸĺļľŀłńņňŋōŏő"     # Latin Extended-A
    "ŕŗřśŝşšţťŧũūŭůűųŵŷźżž"
    "șț"                                           # Latin Extended-B (ro)
    "ё"                                            # Cyrillic (ru, r14)
)
_FOLD_TO = (
    "aaaaaaceeeeiiiinoooooouuuuyyd"
    "aaaccccddeeeeegggghhiiiiijkklllllnnnnooo"
    "rrrsssstttuuuuuuwyzzz"
    "st"
    "е"
)
assert len(_FOLD_FROM) == len(_FOLD_TO)
_FOLD_MULTI = (("œ", "oe"), ("æ", "ae"), ("ß", "ss"), ("þ", "th"),
               ("ĳ", "ij"))  # Dutch ligature (r14, dutch chain)
_PY_FOLD = str.maketrans(_FOLD_FROM, _FOLD_TO)

#: a compact French stop set (the high-frequency core of Snowball's
#: French stopword list — articles, pronouns, common prepositions and
#: être/avoir forms); checked AFTER lowercase + elision, BEFORE stemming
FRENCH_STOPWORDS = (
    "au", "aux", "avec", "ce", "ces", "cet", "cette", "dans", "de",
    "des", "du", "elle", "elles", "en", "et", "eux", "il", "ils", "je",
    "la", "le", "les", "leur", "leurs", "lui", "ma", "mais", "me",
    "même", "mes", "moi", "mon", "ne", "nos", "notre", "nous", "on",
    "ou", "où", "par", "pas", "plus", "pour", "que", "qui", "sa", "se",
    "ses", "son", "sur", "ta", "te", "tes", "toi", "ton", "tous",
    "tout", "toute", "toutes", "tu", "un", "une", "vos", "votre",
    "vous", "été", "étée", "étées", "étés", "étant", "suis", "es",
    "est", "sommes", "êtes", "sont", "sera", "serait", "était",
    "étaient", "être", "avoir", "avait", "ont", "comme",
)


#: a compact German stop set (the high-frequency core of Snowball's
#: German stopword list — articles, pronouns, common prepositions and
#: sein/haben/werden forms); stored in surface form, folded at registry
#: construction because the built-in chain folds before the stop filter
GERMAN_STOPWORDS = (
    "aber", "alle", "als", "also", "am", "an", "auch", "auf", "aus",
    "bei", "bin", "bis", "bist", "da", "damit", "dann", "das", "dass",
    "dein", "dem", "den", "der", "des", "die", "dies", "diese",
    "diesem", "diesen", "dieser", "dieses", "doch", "dort", "du",
    "durch", "ein", "eine", "einem", "einen", "einer", "eines", "er",
    "es", "für", "haben", "hat", "hatte", "hier", "ich", "ihr", "ihre",
    "im", "in", "ist", "ja", "jede", "jedem", "jeden", "jeder",
    "jedes", "kann", "kein", "mein", "mit", "muss", "nach", "nicht",
    "noch", "nun", "nur", "ob", "oder", "ohne", "sehr", "sein",
    "seine", "sich", "sie", "sind", "so", "um", "und", "uns", "unter",
    "vom", "von", "vor", "war", "waren", "wenn", "werden", "wie",
    "wieder", "wir", "wird", "wo", "zu", "zum", "zur", "über",
)

#: a compact Spanish stop set (the high-frequency core of Snowball's
#: Spanish stopword list); surface form, folded at registry construction
SPANISH_STOPWORDS = (
    "a", "al", "algo", "algunas", "algunos", "ante", "antes", "como",
    "con", "contra", "cual", "cuando", "de", "del", "desde", "donde",
    "durante", "e", "el", "ella", "ellas", "ellos", "en", "entre",
    "era", "es", "esa", "ese", "eso", "esta", "estar", "estas",
    "este", "esto", "estos", "fue", "ha", "han", "hasta", "hay", "la",
    "las", "le", "les", "lo", "los", "me", "muy", "más", "mí", "nada",
    "ni", "no", "nos", "nosotros", "o", "otra", "otras", "otro",
    "otros", "para", "pero", "poco", "por", "porque", "que", "quien",
    "quienes", "qué", "se", "ser", "si", "sin", "sobre", "son", "su",
    "sus", "sí", "también", "tanto", "todo", "todos", "un", "una",
    "uno", "unos", "y", "ya", "yo", "él",
)

#: compact Italian stop set (high-frequency articles, prepositions,
#: pronouns and essere/avere forms); checked AFTER lowercase + elision
#: + folding, BEFORE stemming
ITALIAN_STOPWORDS = (
    "a", "ad", "ai", "al", "alla", "alle", "allo", "anche", "che",
    "chi", "ci", "come", "con", "cui", "da", "dai", "dal", "dalla",
    "degli", "dei", "del", "della", "delle", "dello", "di", "dove",
    "e", "ed", "era", "erano", "essere", "fra", "gli", "ha", "hanno",
    "ho", "i", "il", "in", "io", "la", "le", "lei", "lo", "loro",
    "lui", "ma", "mi", "ne", "nei", "nel", "nella", "nelle", "nello",
    "noi", "non", "o", "per", "perché", "più", "quale", "quando",
    "questa", "queste", "questo", "se", "sei", "si", "sia", "sono",
    "su", "sua", "sue", "sui", "sul", "sulla", "suo", "suoi", "tra",
    "tu", "un", "una", "uno", "voi", "è",
)

#: compact Portuguese stop set (same construction)
PORTUGUESE_STOPWORDS = (
    "a", "ao", "aos", "aquela", "aquele", "as", "até", "com", "como",
    "da", "das", "de", "dela", "dele", "depois", "do", "dos", "e",
    "ela", "elas", "ele", "eles", "em", "entre", "era", "eram",
    "essa", "esse", "esta", "este", "eu", "foi", "for", "foram",
    "há", "isso", "isto", "já", "mais", "mas", "me", "mesmo", "muito",
    "na", "nas", "no", "nos", "nós", "não", "o", "os", "ou", "para",
    "pela", "pelo", "por", "quando", "que", "quem", "se", "sem",
    "ser", "seu", "seus", "sua", "suas", "são", "só", "também", "te",
    "tem", "ter", "um", "uma", "você", "vocês", "à", "às", "é",
)


def fold_text(t: str) -> str:
    """Python rendering of the asciifolding filter (driver/oracle twin of
    the Spark-SQL and DuckDB renderings)."""
    t = t.translate(_PY_FOLD)
    for a, b in _FOLD_MULTI:
        t = t.replace(a, b)
    return t


def stem_text(w: str, lang: str = "english") -> str:
    """Python rendering of the light stemmers (driver-side twin of the
    Spark-SQL/DuckDB rendering ``_stem_steps`` below; pinned against it
    in ``tests/test_analysis.py``)."""
    if lang == "french":
        for cond, suf, rep in _FR_STEP_X:
            if re.match(cond, w):
                w = re.sub(suf, rep, w)
                break
        for cond in _FR_DROPS:
            if re.match(cond, w):
                w = w[:-1]
        if re.match(_FR_DOUBLE, w):
            w = w[:-1]
        return w
    if lang == "german":
        for rows in (_DE_STEP_1, _DE_STEP_2):
            for cond, suf, rep in rows:
                if re.match(cond, w):
                    w = re.sub(suf, rep, w)
                    break
        return w
    if lang == "spanish":
        for cond, suf, rep in _ES_STEP:
            if re.match(cond, w):
                w = re.sub(suf, rep, w)
                break
        return w
    if lang == "italian":
        for cond, suf, rep in _IT_STEP:
            if re.match(cond, w):
                w = re.sub(suf, rep, w)
                break
        return w
    if lang == "portuguese":
        for rows in (_PT_STEP_1, _PT_STEP_2):
            for cond, suf, rep in rows:
                if re.match(cond, w):
                    w = re.sub(suf, rep, w)
                    break
        return w
    if lang == "russian":
        for rows in (_RU_STEP_1, _RU_STEP_2):
            for cond, suf, rep in rows:
                if re.match(cond, w):
                    w = re.sub(suf, rep, w)
                    break
        return w
    if lang == "dutch":
        for rows in (_NL_STEP_1, _NL_STEP_2, _NL_STEP_3):
            for cond, suf, rep in rows:
                if re.match(cond, w):
                    w = re.sub(suf, rep, w)
                    break
        return w
    for cond, suf, rep in _STEP_1A:
        if re.match(cond, w):
            w = re.sub(suf, rep, w)
            break
    if re.match(_P_EED_ANY, w):
        if re.match(_P_EED_OK, w):
            w = w[:-1]
    elif re.match(_P_ED, w) or re.match(_P_ING, w):
        w = w[:-2] if w.endswith("ed") else w[:-3]
        if re.match(_P_ATBLIZ, w):
            w = w + "e"
        elif re.match(_P_DOUBLE, w):
            w = w[:-1]
    for cond, suf, rep in _STEP_2:
        if re.match(cond, w):
            w = re.sub(suf, rep, w)
            break
    if re.match(_P_Y, w):
        w = w[:-1] + "i"
    if re.match(_P_E, w):
        w = w[:-1]
    if re.match(_P_LL, w):
        w = w[:-1]
    return w


def _stem_steps(lang: str, match, q) -> list[str]:
    """The stemmer for ``lang`` as SQL CASE bodies over the lambda
    variable ``t``, one per step, in order — rendered from the rule
    tables above for both engines, so the DuckDB oracle cannot drift
    from the Spark chain by transcription.  The dialects differ only in
    the regex test, ``match(expr, pattern_literal)`` (Spark
    ``expr RLIKE p``, DuckDB ``regexp_matches(expr, p)``), and the
    string-literal quoter ``q``; both accept ``||`` and
    ``regexp_replace``.

    The caller wraps each body in its OWN transform over the token
    array, so the lambda variable stays a leaf and each step's
    expression tree stays constant-size.  Chaining all steps inside one
    lambda re-embeds the previous step's tree at every reference and
    the node count multiplies into the tens of thousands."""
    def drop1(expr: str) -> str:
        return f"regexp_replace({expr}, '.{{1}}$', '')"

    def step_case(rows) -> str:
        whens = "".join(
            f" WHEN {match('t', q(cond))} "
            f"THEN regexp_replace(t, {q(suf)}, {q(rep)})"
            for cond, suf, rep in rows)
        return f"(CASE{whens} ELSE t END)"

    def cleanup(expr: str) -> str:
        return (f"(CASE WHEN {match(expr, q(_P_ATBLIZ))} "
                f"THEN {expr} || 'e' "
                f"WHEN {match(expr, q(_P_DOUBLE))} "
                f"THEN {drop1(expr)} ELSE {expr} END)")

    def drop_case(cond: str) -> str:
        return (f"(CASE WHEN {match('t', q(cond))} "
                f"THEN {drop1('t')} ELSE t END)")

    if lang == "french":
        return ([step_case(_FR_STEP_X)]
                + [drop_case(c) for c in _FR_DROPS]
                + [drop_case(_FR_DOUBLE)])
    if lang == "german":
        return [step_case(_DE_STEP_1), step_case(_DE_STEP_2)]
    if lang == "spanish":
        return [step_case(_ES_STEP)]
    if lang == "italian":
        return [step_case(_IT_STEP)]
    if lang == "portuguese":
        return [step_case(_PT_STEP_1), step_case(_PT_STEP_2)]
    if lang == "russian":
        return [step_case(_RU_STEP_1), step_case(_RU_STEP_2)]
    if lang == "dutch":
        return [step_case(_NL_STEP_1), step_case(_NL_STEP_2),
                step_case(_NL_STEP_3)]

    ed = "regexp_replace(t, 'ed$', '')"
    ing = "regexp_replace(t, 'ing$', '')"
    step_1b = (
        f"(CASE WHEN {match('t', q(_P_EED_ANY))} THEN "
        f"(CASE WHEN {match('t', q(_P_EED_OK))} "
        f"THEN {drop1('t')} ELSE t END) "
        f"WHEN {match('t', q(_P_ED))} THEN {cleanup(ed)} "
        f"WHEN {match('t', q(_P_ING))} THEN {cleanup(ing)} "
        f"ELSE t END)")
    return [
        step_case(_STEP_1A),
        step_1b,
        step_case(_STEP_2),
        (f"(CASE WHEN {match('t', q(_P_Y))} "
         f"THEN regexp_replace(t, 'y$', 'i') ELSE t END)"),
        drop_case(_P_E),
        drop_case(_P_LL),
    ]


def _spark_match(expr: str, pat: str) -> str:
    return f"{expr} RLIKE {pat}"


def _duck_match(expr: str, pat: str) -> str:
    return f"regexp_matches({expr}, {pat})"


def _duck_q(s: str) -> str:
    """DuckDB string literal (no backslash escapes; quotes double)."""
    return "'" + s.replace("'", "''") + "'"


# ---------------------------------------------------------------------------
# Analyzer registry
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class _AnalyzerSpec:
    tokenizer: str = "standard"      # standard | whitespace | cjk
    possessive: bool = False                   # strip trailing 's
    elision: "bool | str" = False    # True = French set; str = pattern
    asciifolding: bool = False                 # fold accents to ASCII
    cjk_bigrams: bool = False        # CJK runs → overlapping 2-grams
    stopwords: tuple[str, ...] = ()
    stemmer: str | None = None       # a register_analyzer stemmer name
    #: normalized token → canonical token, applied LAST (entries are
    #: normalized through the chain's own stop/stem filters at
    #: registration, so surface-form synonym groups keep working when the
    #: chain also stems)
    synonyms: tuple[tuple[str, str], ...] = field(default=())


_REGISTRY: dict[str, _AnalyzerSpec] = {
    "standard": _AnalyzerSpec(),
    "whitespace": _AnalyzerSpec(tokenizer="whitespace"),
    "english": _AnalyzerSpec(possessive=True, stopwords=ENGLISH_STOPWORDS,
                             stemmer="english"),
    # ES's stock french analyzer shape: elision → lowercase → stop →
    # stemmer (no asciifolding — ES doesn't fold in the stock chain;
    # register a custom analyzer with asciifolding=True to get
    # accent-blind matching)
    "french": _AnalyzerSpec(elision=True, stopwords=FRENCH_STOPWORDS,
                            stemmer="french"),
    # german folds FIRST (the documented approximation of ES's
    # german_normalization — identical on ä/ö/ü/ß, folds other accents
    # too) so the light stemmer's rules stay suffix-only and the
    # stem-prefix candidate guard holds; the stop set folds with it
    "german": _AnalyzerSpec(
        asciifolding=True,
        stopwords=tuple(dict.fromkeys(
            fold_text(s) for s in GERMAN_STOPWORDS)),
        stemmer="german"),
    # spanish likewise folds first (Lucene's SpanishLightStemmer folds
    # accented vowels inside the stemmer; folding uniformly up front
    # also catches the short words its length guard skips)
    "spanish": _AnalyzerSpec(
        asciifolding=True,
        stopwords=tuple(dict.fromkeys(
            fold_text(s) for s in SPANISH_STOPWORDS)),
        stemmer="spanish"),
    # italian: ES's stock chain is italian_elision → lowercase → stop →
    # light stemmer; like german/spanish this engine folds up front
    # (documented approximation) so the stemmer rules stay ASCII
    # suffix-drops and the stem-prefix guard holds
    "italian": _AnalyzerSpec(
        elision=_P_ELISION_IT,
        asciifolding=True,
        stopwords=tuple(dict.fromkeys(
            fold_text(s) for s in ITALIAN_STOPWORDS)),
        stemmer="italian"),
    "portuguese": _AnalyzerSpec(
        asciifolding=True,
        stopwords=tuple(dict.fromkeys(
            fold_text(s) for s in PORTUGUESE_STOPWORDS)),
        stemmer="portuguese"),
    # russian (round 14): fold first (the table's ё→е row is the only
    # rewrite that touches Cyrillic; the Latin rows are inert on Russian
    # text) so the light stemmer's Cyrillic rules stay suffix-only drops
    # and the stem-prefix guard holds; the stop set folds with it
    "russian": _AnalyzerSpec(
        asciifolding=True,
        stopwords=tuple(dict.fromkeys(
            fold_text(s) for s in RUSSIAN_STOPWORDS)),
        stemmer="russian"),
    # dutch (round 14): fold-first (één → een joins the stop set's een;
    # the ĳ ligature folds to the two-letter ij via _FOLD_MULTI) +
    # folded Snowball-core stop set + the light suffix-drop stemmer
    # above
    "dutch": _AnalyzerSpec(
        asciifolding=True,
        stopwords=tuple(dict.fromkeys(
            fold_text(s) for s in DUTCH_STOPWORDS)),
        stemmer="dutch"),
    # cjk (round 14): ES's stock cjk analyzer is the honest bigram
    # chain — standard tokenization with CJK script runs kept whole,
    # then the cjk_bigram filter turns each run into overlapping
    # 2-grams (a lone CJK char stays a unigram); no stemmer, English
    # stop set for the Latin tokens riding along (the ES default)
    "cjk": _AnalyzerSpec(tokenizer="cjk", cjk_bigrams=True,
                         stopwords=ENGLISH_STOPWORDS),
}

#: retained export — the BUILT-IN names (registry adds custom ones)
ANALYZERS = ("standard", "whitespace", "english", "french", "german",
             "spanish", "italian", "portuguese", "russian", "dutch",
             "cjk")


def analyzer_names() -> tuple[str, ...]:
    return tuple(_REGISTRY)


def register_analyzer(
    name: str,
    *,
    tokenizer: str = "standard",
    possessive: bool = False,
    elision: bool | str = False,
    asciifolding: bool = False,
    cjk_bigrams: bool = False,
    stopwords: tuple[str, ...] | list[str] | str = (),
    stemmer: bool | str = False,
    synonyms: dict[str, list[str]] | list[list[str]] | None = None,
) -> None:
    """Declare a named custom analyzer (the ES
    ``settings.analysis.analyzer`` surface).  ``elision`` is ``True``
    for the French article set or a regex string of its own (the
    italian built-in passes one).  ``stopwords`` accepts a word list or
    the ES shorthands ``"_english_"`` / ``"_french_"`` / ``"_german_"``
    / ``"_spanish_"`` / ``"_italian_"`` / ``"_portuguese_"`` /
    ``"_russian_"`` / ``"_dutch_"``; ``stemmer`` accepts a language name
    (``"english"`` / ``"french"`` / ``"german"`` / ``"spanish"`` /
    ``"italian"`` / ``"portuguese"`` / ``"russian"`` / ``"dutch"``) or
    ``True`` as a legacy alias for english; ``synonyms`` accepts either
    ES-style equivalence groups (``[["car","auto","automobile"], …]`` —
    every member rewrites to the FIRST) or an explicit mapping
    ``{"canonical": ["variant", …]}``.  Synonym and stopword entries are
    normalized through the chain's own char filters at registration time
    (stopwords fold when ``asciifolding`` is on; synonyms run the whole
    possessive/elision/fold/stop/stem chain), so lists written in surface
    forms stay consistent with the indexed stream.  Re-registering a
    built-in name is rejected."""
    if name in ANALYZERS:
        raise ValueError(f"cannot redefine built-in analyzer {name!r}")
    if tokenizer not in ("standard", "whitespace", "cjk"):
        raise ValueError(
            f"unsupported tokenizer: {tokenizer!r} "
            "(standard | whitespace | cjk)")
    stem_lang = {False: None, True: "english"}.get(stemmer, stemmer)
    if stem_lang not in (None, "english", "french", "german", "spanish",
                         "italian", "portuguese", "russian", "dutch"):
        raise ValueError(
            f"unsupported stemmer: {stemmer!r} "
            "(english | french | german | spanish | italian | portuguese"
            " | russian | dutch)")
    shorthand = {"_english_": ENGLISH_STOPWORDS,
                 "_french_": FRENCH_STOPWORDS,
                 "_german_": GERMAN_STOPWORDS,
                 "_spanish_": SPANISH_STOPWORDS,
                 "_italian_": ITALIAN_STOPWORDS,
                 "_portuguese_": PORTUGUESE_STOPWORDS,
                 "_russian_": RUSSIAN_STOPWORDS,
                 "_dutch_": DUTCH_STOPWORDS}
    if isinstance(stopwords, str):
        if stopwords not in shorthand:
            raise ValueError(
                f"unsupported stopword set {stopwords!r} (pass a list or "
                f"one of {' | '.join(sorted(shorthand))})")
        stops: tuple[str, ...] = shorthand[stopwords]
    else:
        stops = tuple(str(s).lower() for s in stopwords)
    if asciifolding:
        # the stop filter runs AFTER folding, so entries must be folded
        # too ("été" in the list must drop the folded token "ete")
        stops = tuple(dict.fromkeys(fold_text(s) for s in stops))

    def norm(tok: str) -> str | None:
        t = tok.strip().lower()
        if possessive:
            t = re.sub(_P_POSS, "", t)
        if elision:
            t = re.sub(_elision_pat(elision), "", t)
        if asciifolding:
            t = fold_text(t)
        if t in stops:
            return None
        return stem_text(t, stem_lang) if stem_lang else t

    pairs: list[tuple[str, str]] = []
    if synonyms and cjk_bigrams:
        # a synonym entry normalizes to ONE token; a CJK run would
        # normalize to several bigrams — reject rather than silently
        # register a mapping the indexed stream can never produce
        raise ValueError(
            "synonyms cannot be combined with cjk_bigrams (a CJK "
            "synonym entry expands to multiple bigram tokens)")
    if synonyms:
        groups = (synonyms.items() if isinstance(synonyms, dict)
                  else [(g[0], g[1:]) for g in synonyms])
        for canon, variants in groups:
            c = norm(str(canon))
            if c is None:
                raise ValueError(
                    f"synonym canonical {canon!r} normalizes to a stopword")
            for v in variants:
                nv = norm(str(v))
                if nv is not None and nv != c:
                    pairs.append((nv, c))
    dupes = {a for i, (a, _) in enumerate(pairs)
             if any(a == b and pairs[i][1] != c2
                    for b, c2 in pairs[:i])}
    if dupes:
        raise ValueError(
            f"synonym token(s) {sorted(dupes)} map to multiple canonicals")
    _REGISTRY[name] = _AnalyzerSpec(
        tokenizer=tokenizer, possessive=possessive, elision=elision,
        asciifolding=asciifolding, cjk_bigrams=cjk_bigrams,
        stopwords=stops,
        stemmer=stem_lang, synonyms=tuple(dict(pairs).items()))


def plain_chain(analyzer: str | None = None) -> bool:
    """True when the analyzer applies NO token filters — token text
    equals surface text, so surface-regex fast paths (phrase adjacency
    as one regexp_like) are valid.  A filter chain (possessive / stop /
    stem / synonyms) rewrites or removes tokens; fast paths must fall
    back to the positions engine over ``analyze_col`` (code-review r11:
    the regex path silently missed stemmed phrases)."""
    spec = _spec(analyzer or current_analyzer())
    return not (spec.possessive or spec.elision or spec.asciifolding
                or spec.cjk_bigrams or spec.stopwords or spec.stemmer
                or spec.synonyms)


def chain_tokenizer(analyzer: str | None = None) -> str:
    """The analyzer's TOKENIZER name — boundary-class choices must key
    off this, not the analyzer's registered name (a custom whitespace
    chain is not named 'whitespace')."""
    return _spec(analyzer or current_analyzer()).tokenizer


def _spec(name: str) -> _AnalyzerSpec:
    try:
        return _REGISTRY[name]
    except KeyError:
        raise ValueError(
            f"unsupported analyzer: {name!r} "
            f"(one of {' | '.join(_REGISTRY)})") from None


#: Scope state lives in ContextVars (r15 optimization): the multi-body
#: plan builders (``es_msearch``) compile request arms on driver THREADS
#: to overlap py4j round-trips (guide §2.6), and a swapped process
#: global would let one thread's scope exit clobber another's mid-build.
#: ContextVars give each thread (via ``contextvars.copy_context``) an
#: isolated view seeded from the spawning scope; single-threaded
#: behaviour is byte-identical to the old globals.
_default_var: "contextvars.ContextVar[str]" = contextvars.ContextVar(
    "hive2es_analyzer_default", default="standard")


def current_analyzer() -> str:
    return _default_var.get()


@contextmanager
def using(analyzer: str | None):
    """Scope the default analyzer for a plan build.  ``None`` keeps the
    current default (lets entry points forward an optional kwarg
    unconditionally).

    CONCURRENCY: the scope is a ContextVar — a thread spawned with
    ``contextvars.copy_context()`` inherits the value active at spawn
    and its own nested ``using(...)`` scopes stay thread-local, so
    multi-threaded plan builds (es_msearch) cannot cross-contaminate
    each other's token grammar."""
    if analyzer is None:
        yield
        return
    _spec(analyzer)
    token = _default_var.set(analyzer)
    try:
        yield
    finally:
        _default_var.reset(token)


#: (field -> materialized token column name, analyzer) for the active
#: :func:`preanalyzed` scope; ContextVar for the same threading reason.
_pre_var: "contextvars.ContextVar[tuple[dict[str, str], str | None]]" = (
    contextvars.ContextVar("hive2es_preanalyzed", default=({}, None)))


@contextmanager
def preanalyzed(mapping: dict[str, str], analyzer: str | None = None):
    """Install field → materialized-token-column overrides for the
    duration of a plan build (the multi-query tokenize-sharing surface,
    VERDICT r11 #7): while active, compile sites that need a field's
    FULL-CHAIN token stream read the named column instead of
    re-tokenizing.  The override records the analyzer it was built
    under; ``preanalyzed_stream`` returns None on mismatch, so a nested
    ``using()`` scope with a different grammar can never silently read
    stale tokens.  ContextVar-scoped like ``using()`` (safe under the
    multi-threaded es_msearch build)."""
    token = _pre_var.set((dict(mapping), analyzer or current_analyzer()))
    try:
        yield
    finally:
        _pre_var.reset(token)


def preanalyzed_stream(
    field: str, *, positions: bool = False, analyzer: str | None = None
) -> str | None:
    """The NAME of the materialized full-chain token column for
    ``field`` under the active :func:`preanalyzed` scope, or None
    (caller tokenizes inline).
    ``positions=True`` additionally requires a PLAIN chain: the
    positions engines consume the pre-stem stream, which equals the
    full-chain output only when no token filters apply."""
    pre_fields, pre_analyzer = _pre_var.get()
    name = pre_fields.get(field)
    if name is None:
        return None
    a = analyzer or current_analyzer()
    if a != pre_analyzer:
        return None
    if positions and not plain_chain(a):
        return None
    return name


def analyze_col(col: "Column | str", analyzer: str | None = None) -> Column:
    """Token array for a text column: the chain rendered as Spark-SQL
    text (``analyze_sql``) and parsed in ONE ``F.expr`` call — codegen
    expressions only (regexp_extract_all / split + transform/filter for
    the language chain; no UDF).  NULL input stays NULL (callers that
    aggregate coalesce to the empty array themselves).

    ``col`` is a column NAME (dotted = nested field, like ``F.col``) or
    a Column; a Column binds as the argument of a SQL lambda
    (``operators.util.sql_bind``), which also covers a nested
    resolver's lambda variable.  Either way the build costs a few dozen
    py4j calls at most: assembled node by node through the Column API a
    language chain cost hundreds, 0.3-1.4 s of pure driver latency per
    build (measured r15; ~0.5 ms per JVM call in this environment)."""
    return sql_bind(col, lambda ref: analyze_sql(ref, analyzer))


# ---------------------------------------------------------------------------
# Spark-SQL rendering of the chain — the engine's one Spark renderer:
# assembled in pure Python, parsed once (py4j round-trip economy, r15)
# ---------------------------------------------------------------------------


def _tokenize_sql(col_sql: str, tokenizer: str) -> str:
    if tokenizer == "standard":
        return (f"regexp_extract_all(lower({col_sql}), "
                f"{_sq(_JAVA_TOKEN)}, 0)")
    if tokenizer == "cjk":
        # two-pass (see the pattern comment above): standard grammar,
        # then split only the tokens that contain a CJK character —
        # ASCII-dominant corpora price at the standard tokenizer
        return (
            f"flatten(transform("
            f"regexp_extract_all(lower({col_sql}), {_sq(_JAVA_TOKEN)}, 0), "
            f"t -> CASE WHEN t RLIKE {_sq(_CJK_ANY)} "
            f"THEN regexp_extract_all(t, {_sq(_JAVA_CJK_SPLIT)}, 0) "
            f"ELSE array(t) END))"
        )
    return f"filter(split(lower({col_sql}), ' +'), t -> t != '')"


def _fold_tok_sql(expr: str) -> str:
    """The asciifolding filter — one translate() plus the digraph
    replaces, all linear scans, no regex."""
    out = f"translate({expr}, {_sq(_FOLD_FROM)}, {_sq(_FOLD_TO)})"
    for a, b in _FOLD_MULTI:
        out = f"replace({out}, {_sq(a)}, {_sq(b)})"
    return out


def _char_filters_sql(toks: str, spec: _AnalyzerSpec) -> str:
    """The token-TEXT rewriting filters (possessive, elision,
    asciifolding) that run before the stop filter.

    Hot-path guarded (measured at 1M docs, SCALE.md "Round-11 probes"): the
    possessive/elision regexps only run on tokens containing an
    apostrophe (contains() is a substring scan, +2 s vs +8.6 s for
    regexp-always); the fold is translate()+replace(), linear scans
    cheaper than any regex."""
    rewrote = False
    if spec.possessive:
        toks = (f"transform({toks}, t -> CASE WHEN contains(t, '\\'') "
                f"THEN regexp_replace(t, {_sq(_P_POSS)}, '') ELSE t END)")
        rewrote = True
    if spec.elision:
        pat = _elision_pat(spec.elision)
        toks = (f"transform({toks}, t -> CASE WHEN contains(t, '\\'') "
                f"THEN regexp_replace(t, {_sq(pat)}, '') ELSE t END)")
        rewrote = True
    if rewrote:
        # a whitespace tokenizer can emit a bare "'s" / "l'" token;
        # stripping it must not leave an empty term occupying a phrase
        # position (code-review r11)
        toks = f"filter({toks}, t -> t != '')"
    if spec.asciifolding:
        toks = f"transform({toks}, t -> {_fold_tok_sql('t')})"
    return toks


def _chain_filters_sql(toks: str, spec: _AnalyzerSpec,
                       *, chars_done: bool = False) -> str:
    """Char filters + CJK bigrams + stopword filter over an
    already-tokenized array (``chars_done=True`` when the caller already
    ran ``_char_filters_sql`` — elision is NOT idempotent on contrived
    doubled-article tokens, so re-running is forbidden, not just
    wasteful).

    The stop filter is a literal ``IN`` list: Catalyst's OptimizeIn
    turns it into an InSet hash probe (+0.2 s vs +16 s for a per-token
    array_contains scan over a literal array at 1M docs)."""
    if not chars_done:
        toks = _char_filters_sql(toks, spec)
    if spec.cjk_bigrams:
        # each CJK run → overlapping 2-grams (a lone char stays a
        # unigram, Lucene CJKBigramFilter's unpaired-char behavior);
        # non-CJK tokens pass through.  The lambda variable is a leaf,
        # so the per-token re-reads are O(1) — no let-binding needed
        toks = (
            f"flatten(transform({toks}, t -> "
            f"CASE WHEN (t RLIKE {_sq(_CJK_FULL)}) AND (length(t) >= 2) "
            f"THEN transform(sequence(1, length(t) - 1), i -> substr(t, i, 2)) "
            f"ELSE array(t) END))"
        )
    if spec.stopwords:
        in_list = ", ".join(_sq(w) for w in spec.stopwords)
        toks = f"filter({toks}, t -> NOT (t IN ({in_list})))"
    return toks


def _pre_stem_sql(col_sql: str, spec: _AnalyzerSpec) -> str:
    """The chain up to (excluding) the stemmer: tokenize + char filters
    + CJK bigrams + stopwords — the stream phrase positions index."""
    return _chain_filters_sql(_tokenize_sql(col_sql, spec.tokenizer), spec)


def _post_stem_sql(toks: str, spec: _AnalyzerSpec) -> str:
    """The chain from the stemmer on: stem + synonym rewrite.  Each
    stemmer step is its own ``transform`` (see ``_stem_steps``)."""
    if spec.stemmer:
        for body in _stem_steps(spec.stemmer, _spark_match, _sq):
            toks = f"transform({toks}, t -> {body})"
    if spec.synonyms:
        # reversed: a later entry wins, as in the Python twin's dict()
        whens = "".join(
            f" WHEN t = {_sq(frm)} THEN {_sq(to)}"
            for frm, to in reversed(spec.synonyms))
        toks = f"transform({toks}, t -> CASE{whens} ELSE t END)"
    return toks


def analyze_sql(col_sql: str, analyzer: str | None = None) -> str:
    """The whole chain — tokenizer, char filters, stop filter, stemmer
    steps and synonym rewrite — as Spark-SQL text over ``col_sql``, a
    valid SQL reference or expression (``analyze_col`` quotes a name or
    binds a Column)."""
    spec = _spec(analyzer or current_analyzer())
    return _post_stem_sql(_pre_stem_sql(col_sql, spec), spec)


def _prefix_keep_sql(prefixes, v: str = "t") -> str:
    """Token ``v`` starts with one of ``prefixes`` (the stem-prefix
    guard)."""
    return " OR ".join(f"startswith({v}, {_sq(p)})" for p in sorted(prefixes))


def candidate_tokens_sql(
    col_sql: str, terms, analyzer: str | None = None
) -> str:
    """Spark-SQL text of :func:`candidate_tokens_col` over ``col_sql``."""
    spec = _spec(analyzer or current_analyzer())
    if spec.cjk_bigrams and not (spec.stemmer or spec.synonyms):
        # bigram-chain contains-guard (r14): a chain output token — a
        # CJK bigram or a pass-through Latin token — can only derive
        # from a surface token that CONTAINS it as a substring (a
        # bigram is two ADJACENT characters of its run; Latin tokens
        # pass through unchanged).  Filtering on cheap contains() FIRST
        # means the bigram expansion runs over a near-empty array on
        # non-matching rows; the stop filter still applies after, so
        # membership semantics equal analyze_col restricted to the
        # matching tokens.
        toks = _char_filters_sql(
            _tokenize_sql(col_sql, spec.tokenizer), spec)
        terms_l = [str(s) for s in terms]
        if terms_l:
            keep = " OR ".join(
                f"contains(t, {_sq(s)})" for s in terms_l)
            toks = f"filter({toks}, t -> {keep})"
        return _chain_filters_sql(toks, spec, chars_done=True)
    if not (spec.stemmer or spec.synonyms):
        return analyze_sql(col_sql, analyzer)
    prefixes = set()
    for s in terms:
        s = str(s)
        prefixes.add(s[:-1])
        for src, dst in spec.synonyms:
            if dst == s:
                prefixes.add(src[:-1])
    toks = _tokenize_sql(col_sql, spec.tokenizer)
    chars_done = spec.elision or spec.asciifolding
    if chars_done:
        # elision edits the PREFIX and folding rewrites arbitrary chars,
        # so the raw-token prefix guard is invalid for these chains —
        # run the char filters first (their cost is inherent to the
        # chain) and prune the rewritten tokens instead
        toks = _char_filters_sql(toks, spec)
    if "" not in prefixes:
        # prune FIRST where valid: the possessive strip is suffix-only,
        # so the invariant holds against the raw token and the
        # possessive/stopword passes then run over the pruned
        # (near-empty on non-matching rows) array instead of every token
        toks = f"filter({toks}, t -> {_prefix_keep_sql(prefixes)})"
    return _post_stem_sql(
        _chain_filters_sql(toks, spec, chars_done=bool(chars_done)), spec)


def candidate_tokens_col(
    col: "Column | str", terms, analyzer: str | None = None
) -> Column:
    """``analyze_col`` restricted to tokens that can possibly map to one
    of ``terms`` — the membership fast path for filter chains.  Rendered
    by ``candidate_tokens_sql``; ``col`` is a name or a Column, as for
    ``analyze_col``.

    Every stemmer rule edits only the SUFFIX, so ``stem(t)[:-1]`` is
    always a prefix of ``t`` (property-fuzzed over 256k words in
    tests/test_analysis.py): a token can stem to query stem ``s`` only
    if ``t.startswith(s[:-1])``.  Filtering the raw token array on those
    cheap prefixes FIRST means the six stemmer passes run over a
    near-empty array on non-matching rows — measured 14× faster on a
    1M-doc match (SCALE.md "Round-11 probes").  Synonym chains add the
    prefixes of every source token that rewrites to a queried term.
    Output values are identical to ``analyze_col`` restricted to the
    matching tokens, so membership/intersection semantics (match,
    operator and/or, minimum_should_match counting) are unchanged.  Not
    valid for per-token FUZZY matching (an edit-1 neighbor need not
    share the prefix) or anything needing the full stream (positions,
    BM25 tf/dl)."""
    return sql_bind(col, lambda ref: candidate_tokens_sql(ref, terms, analyzer))


def term_hit_sql(term: str, prefix: bool = False) -> str:
    """SQL predicate over the token ``x``: it equals ``term`` (or starts
    with it, ``prefix=True``)."""
    return f"startswith(x, {_sq(term)})" if prefix else f"x = {_sq(term)}"


def hit_positions_sql(ts: str, hit: str) -> str:
    """0-based positions, ascending, of the tokens of the array ``ts``
    (cheap to re-read) on which ``hit`` — a SQL predicate over the token
    ``x`` — holds: the one position extraction of the phrase, span and
    intervals renderers."""
    return (f"filter(transform({ts}, (x, i) -> "
            f"CASE WHEN {hit} THEN i ELSE -1 END), p -> p >= 0)")


def _positions_sql(ts: str, term: str, spec: _AnalyzerSpec,
                   *, prefix: bool) -> str:
    """0-based positions IN THE POST-STOP TOKEN STREAM ``ts`` (a bound
    lambda variable — cheap to re-read) of tokens whose chain output
    equals ``term`` (or starts with it, ``prefix=True``) — the phrase
    engine's fast path for filter chains.

    Positions must index the full post-stop stream, so tokens cannot be
    pruned away like ``candidate_tokens_sql`` does.  Instead the guard
    filter keeps TWO ALIGNED ARRAYS — the candidate positions (ints into
    the full stream) and the candidate tokens (an int array + a string
    array beat an array of structs by ~30% at 1M docs) — runs the
    stemmer passes over just the (near-empty on non-matching rows)
    candidate token array, and zips the surviving indices back
    (measured 65× → ~2× on a 1M-doc english phrase,
    SCALE.md "Round-11 probes").  The guard is the suffix-only invariant:
    chain(t) can equal/extend ``term`` only if
    ``t.startswith(term[:-1])`` (synonym sources included; for
    ``prefix`` mode every canonical starting with ``term`` contributes
    its sources)."""
    hit = term_hit_sql(term, prefix)
    if not (spec.stemmer or spec.synonyms):
        return hit_positions_sql(ts, hit)
    prefixes = {term[:-1]}
    for src, dst in spec.synonyms:
        if dst == term or (prefix and dst.startswith(term)):
            prefixes.add(src[:-1])
    keep = "true" if "" in prefixes else _prefix_keep_sql(prefixes, "x")
    cand_pos = hit_positions_sql(ts, keep)
    cand_toks = _post_stem_sql(f"filter({ts}, x -> {keep})", spec)
    return (f"filter(zip_with({cand_toks}, {cand_pos}, (x, p) -> "
            f"CASE WHEN {hit} THEN p ELSE -1 END), p -> p >= 0)")


def chain_positions_sql(col_sql: str, term_specs, fn,
                        analyzer: str | None = None) -> str:
    """``fn`` — SQL text over the per-term position arrays (SQL text) of
    ``term_specs``, a list of ``(term, is_prefix)`` — over ONE let-bound
    post-stop token stream (``_pre_stem_sql``) of ``col_sql``, so the
    chain evaluates once per row however many terms there are
    (``sql_let``); each term's positions are ``_positions_sql``."""
    spec = _spec(analyzer or current_analyzer())
    return sql_let([_pre_stem_sql(col_sql, spec)], lambda ts: fn([
        _positions_sql(ts[0], t, spec, prefix=p) for t, p in term_specs]))


def with_chain_positions(col: "Column | str", term_specs, fn,
                         analyzer: str | None = None) -> Column:
    """:func:`chain_positions_sql` over ``col``, a name or a Column, as
    for ``analyze_col``; the whole text parses in one call."""
    return sql_bind(col, lambda ref: chain_positions_sql(
        ref, term_specs, fn, analyzer))


def _analyze_tokens(text: str, spec: _AnalyzerSpec) -> list[str]:
    if spec.tokenizer == "standard":
        toks = [m.group(0).lower() for m in _PY_TOKEN.finditer(text or "")]
    elif spec.tokenizer == "cjk":
        toks = [
            piece
            for m in _PY_TOKEN.finditer(text or "")
            for piece in (
                (p.group(0) for p in
                 _PY_CJK_SPLIT.finditer(m.group(0).lower()))
                if _PY_CJK_ANY.search(m.group(0))
                else (m.group(0).lower(),))
        ]
    else:
        # SPACE runs only, like the Spark rendering's split(col, ' +') —
        # .split() with no argument splits on any whitespace and would
        # tokenize 'a\\tb' differently from the corpus (code-review r11)
        toks = [t for t in (text or "").lower().split(" ") if t]
    if spec.possessive:
        toks = [s for s in (re.sub(_P_POSS, "", t) for t in toks) if s]
    if spec.elision:
        pat = _elision_pat(spec.elision)
        toks = [s for s in (re.sub(pat, "", t) for t in toks) if s]
    if spec.asciifolding:
        toks = [fold_text(t) for t in toks]
    if spec.cjk_bigrams:
        toks = [b for t in toks for b in _py_cjk_bigrams(t)]
    if spec.stopwords:
        stops = set(spec.stopwords)
        toks = [t for t in toks if t not in stops]
    if spec.stemmer:
        toks = [stem_text(t, spec.stemmer) for t in toks]
    if spec.synonyms:
        syn = dict(spec.synonyms)
        toks = [syn.get(t, t) for t in toks]
    return toks


def _py_cjk_bigrams(t: str) -> list[str]:
    """Python rendering of the cjk_bigram filter (driver/oracle twin)."""
    if len(t) >= 2 and _PY_CJK_FULL.match(t):
        return [t[i:i + 2] for i in range(len(t) - 1)]
    return [t]


def analyze_text(text: str, analyzer: str | None = None) -> list[str]:
    """Driver-side twin of ``analyze_col`` for query strings: identical
    token grammar and filter chain, so a query tokenizes exactly like the
    corpus."""
    return _analyze_tokens(text, _spec(analyzer or current_analyzer()))


def analyze_with_offsets(
    text: str, analyzer: str | None = None
) -> list[tuple[str, int, int, int]]:
    """(token, position, start_offset, end_offset) rows for ``_analyze``.
    Offsets span the ORIGINAL surface token; positions are post-filter
    (gapless), matching the positional arrays the phrase engine builds
    from ``analyze_col``."""
    spec = _spec(analyzer or current_analyzer())
    if spec.tokenizer == "standard":
        raw = [(m.group(0).lower(), m.start(), m.end())
               for m in _PY_TOKEN.finditer(text or "")]
    elif spec.tokenizer == "cjk":
        raw = []
        for m in _PY_TOKEN.finditer(text or ""):
            tok = m.group(0).lower()
            if _PY_CJK_ANY.search(tok):
                raw.extend(
                    (p.group(0), m.start() + p.start(),
                     m.start() + p.end())
                    for p in _PY_CJK_SPLIT.finditer(tok))
            else:
                raw.append((tok, m.start(), m.end()))
    else:
        raw = []
        offset = 0
        for piece in (text or "").split(" "):
            if piece:
                raw.append((piece.lower(), offset, offset + len(piece)))
            offset += len(piece) + 1
    out: list[tuple[str, int, int, int]] = []
    pos = 0
    stops = set(spec.stopwords)
    syn = dict(spec.synonyms)
    for tok, start, end in raw:
        if spec.possessive:
            tok = re.sub(_P_POSS, "", tok)
            if not tok:
                continue
        if spec.elision:
            tok = re.sub(_elision_pat(spec.elision), "", tok)
            if not tok:
                continue
        if spec.asciifolding:
            tok = fold_text(tok)
        # cjk bigrams expand one surface run into n-1 positioned tokens
        # whose offsets span their own two characters (folding/stemming
        # never touch CJK text, so char offsets stay 1:1)
        pieces = ([(b, start + i, start + i + 2)
                   for i, b in enumerate(_py_cjk_bigrams(tok))]
                  if spec.cjk_bigrams and len(tok) >= 2
                  and _PY_CJK_FULL.match(tok) else [(tok, start, end)])
        for tok2, s2, e2 in pieces:
            if spec.stopwords and tok2 in stops:
                continue
            if spec.stemmer:
                tok2 = stem_text(tok2, spec.stemmer)
            if syn:
                tok2 = syn.get(tok2, tok2)
            out.append((tok2, pos, s2, e2))
            pos += 1
    return out


# ---------------------------------------------------------------------------
# search_as_you_type subfields (round 13, VERDICT r12 #6) — ES's
# search_as_you_type field type indexes shingle subfields beside the
# root: ``f._2gram`` (adjacent token pairs) and ``f._3gram`` (triples),
# queried with multi_match type bool_prefix over [f, f._2gram,
# f._3gram] so a prefix typed MID-PHRASE ("quick bro") hits via the
# 2-gram shingle "quick brown".  This engine needs no index-time
# materialization: a subfield's token stream derives from the root's
# analyzed stream with one codegen transform (sequence + slice +
# concat_ws), so every consumer (membership, BM25 tf/df, prefix) reads
# shingles exactly where it would read tokens.  The ``._index_prefix``
# subfield (edge n-grams of the shingles) is an index-time acceleration
# ES hides behind prefix queries — prefix matching here is native
# (startswith over the stream), so referencing it directly is rejected
# loudly rather than silently treated as a plain column.
# ---------------------------------------------------------------------------

_SAYT_SUFFIXES = {"._2gram": 2, "._3gram": 3}


def sayt_subfield(field: str) -> tuple[str, int] | None:
    """``("root", n)`` when ``field`` is a search_as_you_type shingle
    subfield reference (``root._2gram`` / ``root._3gram``), else None.
    ``._index_prefix`` is rejected loudly (see module note above)."""
    if field.endswith("._index_prefix"):
        raise ValueError(
            "the ._index_prefix subfield is an index-time acceleration; "
            "query the root field or its ._2gram/._3gram subfields "
            "(prefix matching is native here)")
    for suf, n in _SAYT_SUFFIXES.items():
        if field.endswith(suf) and len(field) > len(suf):
            return field[: -len(suf)], n
    return None


def shingle_sql(toks: str, n: int) -> str:
    """``n``-token shingles of the analyzed token array ``toks`` (SQL
    text) — the Spark rendering of the search_as_you_type ``._Ngram``
    stream.  Composed
    as ``n-1`` ``zip_with`` passes against shifted tails instead of a
    per-element ``slice`` + ``concat_ws`` transform: slice inside a
    lambda copies the whole array once PER SHINGLE PER ROW (measured
    ~10× a plain match at 1M docs; the zip_with form prices at ~1.1×).
    Spark's zip_with pads the shorter side with NULLs, so trailing
    partial shingles concat to NULL and one final filter drops them —
    which also makes arrays shorter than ``n`` yield the empty list
    (ES's shingle filter emits nothing).  NULL input stays NULL, like
    ``analyze_sql``."""
    out = toks
    for k in range(1, n):
        tail = f"slice({toks}, {k + 1}, greatest(size({toks}) - {k}, 0))"
        out = f"zip_with({out}, {tail}, (x, y) -> concat(x, ' ', y))"
    return f"filter({out}, x -> x IS NOT NULL)"


def shingle_terms(terms: list[str], n: int) -> list[str]:
    """Query-side twin of :func:`shingle_sql`: the analyzed query terms
    re-assembled into ``n``-gram shingle terms (what ES's per-subfield
    query analyzer produces)."""
    return [" ".join(terms[i:i + n]) for i in range(len(terms) - n + 1)]


def field_terms(field: str, text: str) -> list[str]:
    """``text``'s analyzed query terms as ``field`` indexes them: the
    terms themselves, or their shingles for a search_as_you_type
    subfield."""
    terms = analyze_text(str(text))
    sub = sayt_subfield(field)
    return terms if sub is None else shingle_terms(terms, sub[1])


def duckdb_shingles(expr: str, n: int, analyzer: str = "standard") -> str:
    """Oracle-side twin of :func:`shingle_sql` — DuckDB SQL for the
    shingle list of ``expr``'s token stream (NULL input stays NULL,
    matching the column rendering exactly — code-review r13)."""
    toks = duckdb_tokens(expr, analyzer)
    return (
        f"(CASE WHEN {toks} IS NULL THEN NULL "
        f"WHEN len({toks}) >= {n} THEN "
        f"list_transform(generate_series(1, len({toks}) - {n - 1}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')) "
        f"ELSE CAST([] AS VARCHAR[]) END)")


def duckdb_tokens(expr: str, analyzer: str = "standard") -> str:
    """SQL fragment producing the token LIST for ``expr`` in DuckDB —
    oracle-side twin of ``analyze_col`` (literals quoted by ``_duck_q``).
    The language-chain filters are machine-generated from the same rule
    tables as the Spark/Python renderings; the stemmer steps come from
    the same renderer as Spark's (``_stem_steps``)."""
    spec = _spec(analyzer)
    if spec.tokenizer == "standard":
        sql = f"regexp_extract_all(lower({expr}), {_duck_q(DUCKDB_TOKEN_RE)})"
    elif spec.tokenizer == "cjk":
        sql = (f"flatten(list_transform("
               f"regexp_extract_all(lower({expr}), "
               f"{_duck_q(DUCKDB_TOKEN_RE)}), t -> "
               f"CASE WHEN regexp_matches(t, {_duck_q(_CJK_ANY)}) THEN "
               f"regexp_extract_all(t, {_duck_q(_DUCK_CJK_SPLIT)}) "
               f"ELSE [t] END))")
    else:
        sql = (f"list_filter(string_split_regex(lower({expr}), ' +'), "
               "t -> t != '')")
    if spec.possessive:
        sql = (f"list_filter(list_transform({sql}, "
               "t -> regexp_replace(t, '''s$', '')), t -> t != '')")
    if spec.elision:
        pat = _duck_q(_elision_pat(spec.elision))
        sql = (f"list_filter(list_transform({sql}, "
               f"t -> regexp_replace(t, {pat}, '')), t -> t != '')")
    if spec.asciifolding:
        body = f"translate(t, '{_FOLD_FROM}', '{_FOLD_TO}')"
        for a, b in _FOLD_MULTI:
            body = f"replace({body}, '{a}', '{b}')"
        sql = f"list_transform({sql}, t -> {body})"
    if spec.cjk_bigrams:
        sql = (f"flatten(list_transform({sql}, t -> "
               f"CASE WHEN regexp_matches(t, '{_CJK_FULL}') "
               f"AND length(t) >= 2 THEN "
               f"list_transform(generate_series(1, length(t) - 1), "
               f"i -> substring(t, i, 2)) ELSE [t] END))")
    if spec.stopwords:
        inlist = ", ".join(_duck_q(s) for s in spec.stopwords)
        sql = f"list_filter({sql}, t -> t NOT IN ({inlist}))"
    if spec.stemmer:
        for body in _stem_steps(spec.stemmer, _duck_match, _duck_q):
            sql = f"list_transform({sql}, t -> {body})"
    if spec.synonyms:
        whens = "".join(
            f" WHEN t = {_duck_q(a)} THEN {_duck_q(b)}"
            for a, b in spec.synonyms)
        sql = f"list_transform({sql}, t -> (CASE{whens} ELSE t END))"
    return sql
