"""Italian Snowball stemmer.

Implements the published "Italian stemming algorithm" from the Snowball
project — the algorithm behind PostgreSQL's `italian_stem` dictionary.
Same integration contract as the French/Spanish/Portuguese stemmers: the
config plugs into the shared registry (functions/lexize.py), so
analysis, query compilation, index build, search and headlines work
unchanged with config='italian'. Validated against a LIVE PostgreSQL 15
`ts_lexize('italian_stem', w)` by scripts/validate_stemmers_pg.py
(0-mismatch bar, like fr/es/de/en).

Same unaccent-first caveat as the other non-English configs: in-pipeline
input arrives lowercased and unaccented, so the rules naming accented
suffixes (ità, erò, à-final …) rarely fire there; the residual step-3a
vowel deletions recover most of the conflation, and query and document
text flow through the identical path so matching stays consistent. The
accented rules are kept in full for standalone use.
"""

from __future__ import annotations

_VOWELS = set("aeiouàèìòù")

# prelude part 1: acute accents are normalized to the grave forms before
# anything else
_ACUTE_TO_GRAVE = str.maketrans("áéíóú", "àèìòù")


def _isv(c: str) -> bool:
    return c in _VOWELS


def _prelude(word: str) -> str:
    """Normalize acute->grave, then mark u after q and u/i between
    vowels as consonants by upper-casing them (the postlude reverses)."""
    s = list(word.translate(_ACUTE_TO_GRAVE))
    i = 0
    while i < len(s):
        c = s[i]
        if c == "u" and i > 0 and s[i - 1] == "q":
            s[i] = "U"
        elif (c in "ui" and i > 0 and _isv(s[i - 1])
                and i + 1 < len(s) and _isv(s[i + 1])):
            s[i] = c.upper()
        i += 1
    return "".join(s)


def _mark_rv(s: str) -> int:
    """RV per the Spanish definition (shared by it/es/pt)."""
    n = len(s)
    if n < 3:
        return n
    if not _isv(s[1]):
        for i in range(2, n):
            if _isv(s[i]):
                return i + 1
        return n
    if _isv(s[0]) and _isv(s[1]):
        for i in range(2, n):
            if not _isv(s[i]):
                return i + 1
        return n
    return 3


def _mark_r1r2(s: str) -> tuple[int, int]:
    n = len(s)
    r1 = n
    for i in range(1, n):
        if not _isv(s[i]) and _isv(s[i - 1]):
            r1 = i + 1
            break
    r2 = n
    for i in range(r1 + 1, n):
        if not _isv(s[i]) and _isv(s[i - 1]):
            r2 = i + 1
            break
    return r1, r2


def _in(region_start: int, word_len: int, suf_len: int) -> bool:
    return word_len - suf_len >= region_start


# ---------------------------------------------------------------- step 0

_PRONOUNS = sorted([
    "ci", "gli", "la", "le", "li", "lo", "mi", "ne", "si", "ti", "vi",
    "sene", "gliela", "gliele", "glieli", "glielo", "gliene", "mela",
    "mele", "meli", "melo", "mene", "tela", "tele", "teli", "telo",
    "tene", "cela", "cele", "celi", "celo", "cene", "vela", "vele",
    "veli", "velo", "vene",
], key=len, reverse=True)


def _step0(s: str, rv: int) -> str:
    """Attached pronoun: longest pronoun preceded (in RV) by ando/endo
    (delete it) or ar/er/ir (replace it with e)."""
    for pro in _PRONOUNS:
        # the whole attached_pronoun among runs under `setlimit tomark
        # pV`, so a pronoun poking left of RV falls through
        if not (s.endswith(pro) and _in(rv, len(s), len(pro))):
            continue
        stem = s[:-len(pro)]
        n = len(s)
        for lead in ("ando", "endo"):
            if (stem.endswith(lead)
                    and _in(rv, n, len(pro) + len(lead))):
                return stem
        for lead in ("ar", "er", "ir"):
            if (stem.endswith(lead)
                    and _in(rv, n, len(pro) + len(lead))):
                return stem + "e"
        return s
    return s


# ---------------------------------------------------------------- step 1

_STEP1 = sorted([
    # group 1: delete if in R2
    ("anza", 1), ("anze", 1), ("ico", 1), ("ici", 1), ("ica", 1),
    ("ice", 1), ("iche", 1), ("ichi", 1), ("ismo", 1), ("ismi", 1),
    ("abile", 1), ("abili", 1), ("ibile", 1), ("ibili", 1), ("ista", 1),
    ("iste", 1), ("isti", 1), ("istà", 1), ("istè", 1), ("istì", 1),
    ("oso", 1), ("osi", 1), ("osa", 1), ("ose", 1), ("mente", 1),
    ("atrice", 1), ("atrici", 1), ("ante", 1), ("anti", 1),
    # group 2: delete if in R2; preceded by ic -> delete that too (R2)
    ("azione", 2), ("azioni", 2), ("atore", 2), ("atori", 2),
    # group 3: -> log if in R2
    ("logia", 3), ("logie", 3),
    # group 4: -> u if in R2
    ("uzione", 4), ("uzioni", 4), ("usione", 4), ("usioni", 4),
    # group 5: -> ente if in R2
    ("enza", 5), ("enze", 5),
    # group 6: delete if in RV
    ("amento", 6), ("amenti", 6), ("imento", 6), ("imenti", 6),
    # group 7: amente — R1 delete + iv/at + os/ic/abil chains
    ("amente", 7),
    # group 8: ità — R2 delete + abil/ic/iv chains
    ("ità", 8),
    # group 9: ivo/ivi/iva/ive — R2 delete + at (+ic) chain
    ("ivo", 9), ("ivi", 9), ("iva", 9), ("ive", 9),
], key=lambda t: -len(t[0]))


def _step1(s: str, r1: int, r2: int, rv: int) -> tuple[str, bool]:
    n = len(s)
    for suf, grp in _STEP1:
        if not s.endswith(suf):
            continue
        ln = len(suf)
        if grp == 1:
            if _in(r2, n, ln):
                return s[:-ln], True
            return s, False
        if grp == 2:
            if _in(r2, n, ln):
                s2 = s[:-ln]
                if s2.endswith("ic") and _in(r2, len(s2), 2):
                    s2 = s2[:-2]
                return s2, True
            return s, False
        if grp == 3:
            if _in(r2, n, ln):
                return s[:-ln] + "log", True
            return s, False
        if grp == 4:
            if _in(r2, n, ln):
                return s[:-ln] + "u", True
            return s, False
        if grp == 5:
            if _in(r2, n, ln):
                return s[:-ln] + "ente", True
            return s, False
        if grp == 6:
            if _in(rv, n, ln):
                return s[:-ln], True
            return s, False
        if grp == 7:
            if not _in(r1, n, ln):
                return s, False
            s2 = s[:-ln]
            n2 = len(s2)
            if s2.endswith("iv") and _in(r2, n2, 2):
                s2 = s2[:-2]
                if s2.endswith("at") and _in(r2, len(s2), 2):
                    s2 = s2[:-2]
            elif s2.endswith("abil") and _in(r2, n2, 4):
                s2 = s2[:-4]
            else:
                for pre in ("os", "ic"):
                    if s2.endswith(pre) and _in(r2, n2, 2):
                        s2 = s2[:-2]
                        break
            return s2, True
        if grp == 8:
            if not _in(r2, n, ln):
                return s, False
            s2 = s[:-ln]
            n2 = len(s2)
            if s2.endswith("abil") and _in(r2, n2, 4):
                s2 = s2[:-4]
            else:
                for pre in ("ic", "iv"):
                    if s2.endswith(pre) and _in(r2, n2, 2):
                        s2 = s2[:-2]
                        break
            return s2, True
        if grp == 9:
            if not _in(r2, n, ln):
                return s, False
            s2 = s[:-ln]
            if s2.endswith("at") and _in(r2, len(s2), 2):
                s2 = s2[:-2]
                if s2.endswith("ic") and _in(r2, len(s2), 2):
                    s2 = s2[:-2]
            return s2, True
    return s, False


# ---------------------------------------------------------------- step 2

_STEP2 = sorted([
    "ammo", "ando", "ano", "are", "arono", "asse", "assero", "assi",
    "assimo", "ata", "ate", "ati", "ato", "ava", "avamo", "avano",
    "avate", "avi", "avo", "emmo", "enda", "ende", "endi", "endo",
    "erà", "erai", "eranno", "erebbe", "erebbero", "erei", "eremmo",
    "eremo", "ereste", "eresti", "erete", "erò", "erono", "essero",
    "ete", "eva", "evamo", "evano", "evate", "evi", "evo", "Yamo",
    "iamo", "immo", "irà", "irai", "iranno", "irebbe", "irebbero",
    "irei", "iremmo", "iremo", "ireste", "iresti", "irete", "irò",
    "irono", "isca", "iscano", "isce", "isci", "isco", "iscono",
    "issero", "ita", "ite", "iti", "ito", "iva", "ivamo", "ivano",
    "ivate", "ivi", "ivo", "ono", "uta", "ute", "uti", "uto", "ar",
    # the infinitives: 'are' appears above; 'ere'/'ire' were initially
    # missed and caught by the analyzer cross-language sweep
    # ('vanskeligere' -> 'vanskelig', 'finire' -> 'fin' per live PG)
    "ere", "ire", "ir",
], key=len, reverse=True)


def _step2(s: str, rv: int) -> tuple[str, bool]:
    n = len(s)
    for suf in _STEP2:
        # RV-limited search (Snowball `setlimit tomark pV`): a candidate
        # poking left of RV falls through to shorter suffixes
        if s.endswith(suf) and _in(rv, n, len(suf)):
            return s[:-len(suf)], True
    return s, False


# ---------------------------------------------------------------- step 3

def _step3a(s: str, rv: int) -> str:
    """Delete a final a/e/i/o/à/è/ì/ò if in RV, then a preceding i if
    also in RV (crocchio -> crocch)."""
    if s and s[-1] in "aeioàèìò" and _in(rv, len(s), 1):
        s = s[:-1]
        if s.endswith("i") and _in(rv, len(s), 1):
            s = s[:-1]
    return s


def _step3b(s: str, rv: int) -> str:
    """Replace final ch (gh) with c (g) if in RV."""
    if (s.endswith("ch") or s.endswith("gh")) and _in(rv, len(s), 2):
        return s[:-1]
    return s


def _postlude(s: str) -> str:
    return s.replace("I", "i").replace("U", "u")


def stem_italian(word: str) -> str:
    s = _prelude(word)
    rv = _mark_rv(s)
    r1, r2 = _mark_r1r2(s)

    s = _step0(s, rv)
    s, changed1 = _step1(s, r1, r2, rv)
    if not changed1:
        s, _ = _step2(s, rv)
    s = _step3a(s, rv)
    s = _step3b(s, rv)
    return _postlude(s)
