"""Seeded source-code-shaped corpus generator.

Every document is one row ``(doc_id, repo, path, commit, lang, content)``.
Content is Python-like source: code lines built from a Zipf-distributed
identifier vocabulary with punctuation attached to the tokens, and
comment lines of English words so the Snowball stemmer does real work.
File lengths are log-normal.  Planted 2-3 word phrases occur at three
document-frequency tiers (rare, mid, common), and so do the single tier
words, so query terms can be drawn per tier.

The same ``(spec, seed)`` always yields the same rows.  Nothing here
imports the library: the program under test only ever sees the rows.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

# English comment vocabulary: inflected forms so stemming collapses them.
ENGLISH = (
    "the a of to and in is for that with on as this be by are from it at "
    "or an not when if returns return returned returning value values "
    "values parse parses parsed parsing parser connection connections "
    "connected connecting handle handles handled handler handlers read "
    "reads reading write writes writing written buffer buffers buffered "
    "request requests requested response responses cache caches cached "
    "caching update updates updated updating create creates created "
    "creating delete deletes deleted deleting check checks checked "
    "checking config configured configuration configurations load loads "
    "loaded loading error errors failed failing failure retry retries "
    "retried timeout timeouts session sessions user users token tokens "
    "index indexes indexed indexing search searches searched searching "
    "record records recorded recording process processes processed "
    "processing running runs ran start started starting "
    "stop stopped stopping file files path paths list lists listed item "
    "items key keys result results query queries queried "
    "table tables row rows column columns batch batches batched schema "
    "schemas event events listener listeners state states should must "
    "never always only first last next previous current default empty "
    "valid invalid simple complex internal external public private new "
    "old small large fast slow safe unsafe temporary permanent"
).split()

# Tier words: never produced by the background generators above, so
# their document frequency is set by planting alone.
PHRASE_WORDS = {
    "rare": [("quantum", "flux"), ("saffron", "lantern", "harbor"),
             ("velvet", "comet")],
    "mid": [("merge", "sort"), ("garbage", "collector", "pause"),
            ("binary", "heap")],
    "common": [("thread", "pool"), ("hash", "map", "bucket"),
               ("lock", "free")],
}
# Per-document probability of planting each phrase of a tier, and of
# planting each of its words alone somewhere else in the document.
TIER_RATE = {"rare": 0.004, "mid": 0.03, "common": 0.2}

SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"] + \
    ["qua", "xe", "chi", "sho", "thu", "wy", "jo", "ny", "cra", "ple"]
# attached before (30%) or after the identifier
PUNCT = ["", "", "", "(", ")", ",", "):", ".", "()", "self."]
BYTES_PER_TOKEN = 8.0
LANGS = ["python", "python", "python", "java", "go"]


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    vocab: int              # identifier vocabulary size
    zipf_s: float           # Zipf exponent over identifier ranks
    mean_bytes: float       # mean file length
    sigma: float            # log-normal sigma of file length
    comment_frac: float = 0.25   # share of lines that are comments
    snake: bool = True           # some identifiers in snake_case
    first_id: int = 1


def _identifier(rank: int, snake: bool) -> str:
    """Deterministic identifier for a vocabulary rank: its base-len(SYLLABLES)
    digits rendered as syllables, joined camelCase, flat or (with
    `snake`) snake_case.  The analyzer splits snake_case into its
    syllables, so only the other two styles keep a long tail of forms."""
    base = len(SYLLABLES)
    parts = [SYLLABLES[rank % base]]
    r = rank // base
    while r:
        parts.append(SYLLABLES[r % base])
        r //= base
    style = rank % 3 if snake else 1 + rank % 2
    if style == 0:
        return "_".join(parts)
    if style == 1:
        return parts[0] + "".join(p.capitalize() for p in parts[1:])
    return "".join(parts)


def _zipf_ranks(rng: np.random.Generator, vocab: int, s: float,
                n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.searchsorted(cdf, rng.random(n), side="right").clip(0, vocab - 1)


def generate(spec: CorpusSpec, seed: int) -> list[tuple]:
    """Rows (doc_id, repo, path, commit, lang, content), doc_id ascending."""
    rng = np.random.default_rng(seed)
    n = spec.n_docs
    mu = np.log(spec.mean_bytes) - spec.sigma ** 2 / 2
    lengths = np.clip(rng.lognormal(mu, spec.sigma, n), 120, 60_000)
    # fix the corpus size at n * mean_bytes, so that seeds change which
    # files are long but not how much text there is to analyze
    lengths *= n * spec.mean_bytes / lengths.sum()
    n_tok = np.maximum((lengths / BYTES_PER_TOKEN).astype(np.int64), 12)
    total = int(n_tok.sum())

    # background token stream: lines of 3-9 tokens, each line either code
    # (identifiers with punctuation) or a comment (English words)
    ranks = _zipf_ranks(rng, spec.vocab, spec.zipf_s, total)
    uniq, inv = np.unique(ranks, return_inverse=True)
    idents = [_identifier(r, spec.snake) for r in uniq.tolist()]
    punct = rng.integers(0, len(PUNCT), total).tolist()
    before = (rng.random(total) < 0.3).tolist()
    eng = rng.integers(0, len(ENGLISH), total).tolist()
    line_len = rng.integers(3, 10, total // 3 + 1)
    line_of = np.repeat(np.arange(len(line_len)), line_len)[:total]
    comment_line = rng.random(len(line_len)) < spec.comment_frac
    is_comment = comment_line[line_of]
    first = np.ones(total, dtype=bool)
    first[1:] = line_of[1:] != line_of[:-1]
    doc_start = np.zeros(n, dtype=np.int64)
    doc_start[1:] = np.cumsum(n_tok)[:-1]
    first[doc_start] = True
    # 0: same line, 1: new code line, 2: new comment line
    kind = np.where(first, 1 + is_comment, 0).tolist()
    seps = (" ", "\n    ", "\n# ")
    toks = [seps[k] + (ENGLISH[e] if k == 2 or (k == 0 and c) else
                       (PUNCT[p] + idents[i] if bf else idents[i] + PUNCT[p]))
            for k, c, e, p, bf, i in zip(kind, is_comment.tolist(), eng, punct,
                                         before, inv.tolist())]
    tok_len = np.fromiter(map(len, toks), dtype=np.int64, count=total)
    big = "".join(toks)
    char_end = np.cumsum(tok_len)
    char_start = char_end - tok_len

    tiers = [(tier, words) for tier, phrases in PHRASE_WORDS.items()
             for words in phrases]
    rates = np.array([TIER_RATE[tier] for tier, _ in tiers])
    plant_phrase = rng.random((n, len(tiers))) < rates
    plant_words = rng.random((n, len(tiers))) < rates
    plant_at = rng.random((n, len(tiers), 4))

    rows = []
    for d in range(n):
        s = int(doc_start[d])
        content = big[char_start[s] + 1:char_end[s + int(n_tok[d]) - 1]]
        for t in np.flatnonzero(plant_phrase[d] | plant_words[d]):
            words = tiers[t][1]
            inserts = []
            if plant_phrase[d, t]:
                inserts.append((plant_at[d, t, 0],
                                "# the " + " ".join(words) + " is used here"))
            if plant_words[d, t]:
                # the words alone, apart from each other (AND matches
                # that are not phrase matches), and the first two words
                # two positions apart across a stopword (`<2>` matches)
                inserts += [(plant_at[d, t, 1 + i % 3], f"# {w} of the values")
                            for i, w in enumerate(words)]
                inserts.append((plant_at[d, t, 3],
                                f"# {words[0]} and {words[1]} differ"))
            for at, line in inserts:
                cut = content.find("\n", int(at * len(content)))
                cut = len(content) if cut < 0 else cut
                content = content[:cut] + "\n" + line + content[cut:]
        doc_id = spec.first_id + d
        repo = f"org{doc_id % 17}/repo{doc_id % 211}"
        path = f"src/mod{doc_id % 97}/file{doc_id}.py"
        commit = hashlib.sha1(f"{seed}:{doc_id}".encode()).hexdigest()
        rows.append((doc_id, repo, path, commit, LANGS[doc_id % len(LANGS)],
                     content + "\n"))
    return rows


# (shape, tier) of each query of `query_list`: every shape once, every
# tier at least once, and hits on any seed (rare-tier words only under
# OR, whose two words each sit in ~1% of files).  The last query is the
# untimed warm-up.
QUERY_PLAN = (("and", "common"), ("or", "rare"), ("and_not", "mid"),
              ("phrase", "mid"), ("near", "common"), ("phrase", "common"))


def query_list(seed: int) -> list:
    """One seeded query per QUERY_PLAN entry (see oracle.render for the
    tree form): AND, OR, AND NOT, a 2-3 word `<->` phrase and a `<2>`
    pair.  The seed picks the words; the position fixes shape and tier."""
    rng = np.random.default_rng(seed + 7919)
    out = []
    for shape, tier in QUERY_PLAN:
        phrases = PHRASE_WORDS[tier]
        a, b = rng.choice(len(phrases), 2, replace=False)
        pa, pb = phrases[a], phrases[b]
        wa, wb = pa[rng.integers(len(pa))], pb[rng.integers(len(pb))]
        if shape == "and":
            out.append(("and", ("term", wa), ("term", wb)))
        elif shape == "or":
            out.append(("or", ("term", wa), ("term", wb)))
        elif shape == "and_not":
            out.append(("and", ("term", pa[0]), ("not", ("term", wb))))
        elif shape == "phrase":
            out.append(("phrase", pa, 1))
        else:
            out.append(("phrase", pa[:2], 2))
    return out


def distinct_surface_forms(rows: list[tuple]) -> int:
    """Distinct whitespace-delimited chunks: an upper bound on the
    entries the per-process lexize memo would need to hold them all."""
    seen = set()
    for r in rows:
        seen.update(r[5].split())
    return len(seen)


def content_bytes(rows: list[tuple]) -> int:
    return sum(len(r[5].encode()) for r in rows)


# Workload corpora.  index_lifecycle's vocabulary has surface forms that
# fit the 131,072-entry lexize memo; adhoc_headline's is a long tail of
# unsplit identifiers, with heavier-tailed lengths.
CODE = CorpusSpec(n_docs=1200, vocab=6000, zipf_s=1.05,
                  mean_bytes=2500, sigma=0.6)
ADHOC = CorpusSpec(n_docs=240, vocab=3_000_000, zipf_s=0.3,
                   mean_bytes=3000, sigma=1.0, comment_frac=0.1, snake=False)
