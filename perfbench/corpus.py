"""Seeded, source-code-shaped corpus and query streams for the benchmark.

Independent of ``yase_spark/synth.py`` on purpose: no change to the
program can alter the benchmark's inputs. Everything is drawn from one
``numpy.random.Generator`` per (seed, stream name), so the same seed gives
the same rows and queries on every machine.

Make-up (the README repeats it):

* vocabulary (fixed, from ``VOCAB_SEED``): ``VOCAB_SIZE`` identifiers built from 1-3 of ``SYLLABLES``
  in camelCase, snake_case, PascalCase, ACRONYM-prefixed (``HTTPServer``)
  or plain lower-case style, some with a digit suffix; identifier use per
  document follows Zipf(``VOCAB_ZIPF``) over the vocabulary;
* repositories: ``N_REPOS``, sizes Zipf(``REPO_ZIPF``); each repository
  has one main language, fixed across seeds (``repo_languages``), so
  that main languages cover ``LANG_WEIGHTS`` of the documents, and
  ``LANG_STICK`` of its files are in it;
* document length: log-normal number of identifiers, median
  ``DOC_IDENTS_MEDIAN``, sigma ``DOC_IDENTS_SIGMA``, clipped to
  ``DOC_IDENTS_RANGE``; identifiers are laid out as statements with
  language keywords;
* query pool: ``QUERY_POOL`` queries; kinds and term counts by
  ``QUERY_KINDS``/``TOPK_TERMS``/``BOOL_TERMS``; the stream draws pool
  entries with Zipf(``QUERY_ZIPF``) over pool rank.
"""

from __future__ import annotations

import functools

import numpy as np

SYLLABLES = (
    "alpha beta cache chunk client codec commit config cursor delta digest "
    "encode decode entry event field filter flush format frame graph group "
    "handle header index input join kernel label layer lease limit local "
    "merge metric mount node offset order output packet parse patch peer "
    "plan pool probe query queue range reader record region reply route "
    "sample scan schema scope segment select session shard signal slice "
    "snapshot socket source span split stage state store stream table "
    "target task tensor thread token topic trace tuple update value vector "
    "view window worker writer"
).split()
ACRONYMS = ["HTTP", "JSON", "SQL", "XML", "URL", "IO", "UTF", "RPC"]
LANGS = ["python", "java", "go", "js", "rust"]
LANG_WEIGHTS = [0.45, 0.22, 0.15, 0.11, 0.07]
LANG_STICK = 0.85
EXT = {"python": "py", "java": "java", "go": "go", "js": "js", "rust": "rs"}
KEYWORDS = {
    "python": ("def", "return", "self", "import", "if", "for", "in", "None"),
    "java": ("public", "static", "void", "return", "new", "final", "class", "int"),
    "go": ("func", "return", "err", "nil", "var", "if", "range", "struct"),
    "js": ("function", "const", "let", "return", "await", "this", "async", "null"),
    "rust": ("fn", "let", "mut", "impl", "pub", "match", "Some", "Ok"),
}

VOCAB_SIZE = 6000
VOCAB_SEED = 20231
VOCAB_ZIPF = 1.1
N_REPOS = 80
REPO_ZIPF = 1.2
DOC_IDENTS_MEDIAN = 160
DOC_IDENTS_SIGMA = 0.7
DOC_IDENTS_RANGE = (12, 1500)

QUERY_POOL = 480
QUERY_ZIPF = 0.4
# (kind, share of the pool)
QUERY_KINDS = (("topk", 0.6), ("bool_and", 0.2), ("bool_or", 0.2))
# surface words per query: topk 1-4, boolean 2-3
TOPK_TERMS = ((1, 0.25), (2, 0.35), (3, 0.25), (4, 0.15))
BOOL_TERMS = ((2, 0.6), (3, 0.4))


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, stream name)."""
    return np.random.default_rng([int(seed), *stream.encode()])


def zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _identifier(rng: np.random.Generator) -> str:
    n_parts = int(rng.choice([1, 2, 3], p=[0.3, 0.45, 0.25]))
    parts = [SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), n_parts)]
    style = int(rng.choice(5, p=[0.35, 0.3, 0.15, 0.08, 0.12]))
    if style == 0:      # camelCase
        ident = parts[0] + "".join(p.capitalize() for p in parts[1:])
    elif style == 1:    # snake_case
        ident = "_".join(parts)
    elif style == 2:    # PascalCase
        ident = "".join(p.capitalize() for p in parts)
    elif style == 3:    # acronym prefix: HTTPServer, parseJSONFrame
        ident = ACRONYMS[int(rng.integers(len(ACRONYMS)))] + "".join(
            p.capitalize() for p in parts
        )
    else:               # plain lower-case
        ident = "".join(parts)
    if rng.random() < 0.1:
        ident += str(int(rng.integers(2, 64)))
    return ident


@functools.lru_cache(maxsize=1)
def vocabulary() -> tuple[str, ...]:
    """``VOCAB_SIZE`` distinct identifiers, in Zipf rank order. The same
    for every seed: the seed picks documents and queries, so figures
    that depend on the vocabulary (bytes per input byte, postings per
    document) vary little from seed to seed."""
    rng = rng_for(VOCAB_SEED, "vocab")
    seen: dict[str, None] = {}
    while len(seen) < VOCAB_SIZE:
        seen.setdefault(_identifier(rng))
    return tuple(seen)


@functools.lru_cache(maxsize=1)
def repo_languages() -> tuple[int, ...]:
    """The main language of each repository, the same for every seed.
    Repositories take languages in size order, each the one furthest
    below its share of documents in ``LANG_WEIGHTS``. Drawn per seed
    instead, the largest repositories' languages decided the mix: over
    ten seeds rust's share ran from 1 % to 44 %, and the index's bytes
    per input byte followed."""
    want = np.array(LANG_WEIGHTS)
    have = np.zeros(len(LANGS))
    out = []
    for share in zipf_probs(N_REPOS, REPO_ZIPF):
        i = int(np.argmax(want - have))
        have[i] += share
        out.append(i)
    return tuple(out)


def _statement(lang: str, kw: tuple, ids: list[str]) -> str:
    a, b, c = ids
    if lang == "python":
        return f"    {a} = {b}.{c}({kw[2]})"
    if lang == "java":
        return f"    {kw[7]} {a} = {b}.{c}();"
    if lang == "go":
        return f"\t{a}, {kw[2]} := {b}.{c}()"
    if lang == "js":
        return f"  {kw[1]} {a} = {kw[4]} {b}.{c}();"
    return f"    {kw[1]} {a} = {b}.{c}()?;"


def documents(seed: int, n_docs: int, prefix: str = "d", plant: str | None = None) -> list[dict]:
    """``n_docs`` rows of (repo, path, commit, lang, content).

    ``prefix`` keeps (repo, path, commit) keys of different batches
    apart; ``plant`` (an identifier) is written into every document of
    the batch, so a query for it finds exactly this batch."""
    rng = rng_for(seed, f"docs-{prefix}")
    vocab = vocabulary()
    vocab_cdf = np.cumsum(zipf_probs(len(vocab), VOCAB_ZIPF))
    repo_p = zipf_probs(N_REPOS, REPO_ZIPF)
    repo_lang = repo_languages()
    lo, hi = DOC_IDENTS_RANGE
    rows = []
    for i in range(n_docs):
        repo = int(rng.choice(N_REPOS, p=repo_p))
        lang_i = int(repo_lang[repo])
        if rng.random() > LANG_STICK:
            lang_i = int(rng.choice(len(LANGS), p=LANG_WEIGHTS))
        lang = LANGS[lang_i]
        kw = KEYWORDS[lang]
        n_id = int(np.clip(rng.lognormal(np.log(DOC_IDENTS_MEDIAN), DOC_IDENTS_SIGMA), lo, hi))
        n_id -= n_id % 3
        picks = np.searchsorted(vocab_cdf, rng.random(n_id) * vocab_cdf[-1], side="right")
        ids = [vocab[j] for j in picks]
        name = ids[0]
        lines = [f"{kw[0]} {name}:"] if lang == "python" else [f"{kw[0]} {name} {{"]
        if plant:
            lines.append(f"    // {plant}")
        for s in range(0, n_id, 3):
            lines.append(_statement(lang, kw, ids[s:s + 3]))
            if rng.random() < 0.15:
                lines.append("")
        lines.append(f"    {kw[1]} {ids[-1]}" if lang == "python" else "}")
        rows.append({
            "repo": f"org{repo:03d}/{SYLLABLES[repo % len(SYLLABLES)]}",
            "path": f"{prefix}/src/{name}/{i:06d}.{EXT[lang]}",
            "commit": rng.bytes(10).hex(),
            "lang": lang,
            "content": "\n".join(lines) + "\n",
        })
    return rows


def _exact_shares(rng: np.random.Generator, table, n: int) -> list:
    """``n`` values in the table's shares (rounded), in seeded order: every
    seed gets the same mix, only the order differs."""
    vals, probs = zip(*table)
    counts = [int(round(p * n)) for p in probs]
    counts[0] += n - sum(counts)
    out = [v for v, c in zip(vals, counts) for _ in range(c)]
    rng.shuffle(out)
    return out


def query_pool(seed: int) -> list[dict]:
    """``QUERY_POOL`` queries ``{qid, kind, text}``. Kinds, word counts and
    word frequency ranks come in fixed shares (stratified draws), so the
    pools of different seeds cost about the same to serve; the seed picks
    which queries get which words. Words are vocabulary syllables (mostly)
    or whole identifiers, weighted toward frequent vocabulary so most
    queries match many documents."""
    rng = rng_for(seed, "queries")
    vocab = vocabulary()
    kinds = _exact_shares(rng, QUERY_KINDS, QUERY_POOL)
    counts = {k: _exact_shares(rng, TOPK_TERMS if k == "topk" else BOOL_TERMS, kinds.count(k))
              for k in set(kinds)}
    sizes = [counts[k].pop() for k in kinds]
    n_words = sum(sizes)
    # rank-weighted but flatter than the corpus, so rare terms appear too;
    # one uniform draw per stratum of the rank distribution
    cdf = np.cumsum(zipf_probs(len(vocab), 0.8))
    ranks = np.searchsorted(cdf, (np.arange(n_words) + rng.random(n_words)) / n_words * cdf[-1])
    rng.shuffle(ranks)
    whole = _exact_shares(rng, ((True, 0.25), (False, 0.75)), n_words)
    words = [vocab[int(r)] if w else _first_part(vocab[int(r)]) for r, w in zip(ranks, whole)]
    out, at = [], 0
    for qid, (kind, n) in enumerate(zip(kinds, sizes)):
        out.append({"qid": qid, "kind": kind, "text": " ".join(words[at:at + n])})
        at += n
    return out


def _first_part(ident: str) -> str:
    for syl in sorted(SYLLABLES, key=len, reverse=True):
        if ident.lower().lstrip("_").startswith(syl):
            return syl
    return ident.lower()


def query_stream(seed: int, pool: list[dict], n: int, rotation: tuple = ()) -> list[int]:
    """``n`` pool indices, Zipf(``QUERY_ZIPF``) over pool rank. With
    ``rotation`` (a tuple of kinds), position i draws only among the pool
    queries of kind ``rotation[i % len(rotation)]``, so a short stream has
    the same mix of kinds whatever the seed."""
    rng = rng_for(seed, "stream")
    if not rotation:
        return [int(i) for i in rng.choice(len(pool), n, p=zipf_probs(len(pool), QUERY_ZIPF))]
    by_kind = {k: [q["qid"] for q in pool if q["kind"] == k] for k in set(rotation)}
    out = []
    for i in range(n):
        ids = by_kind[rotation[i % len(rotation)]]
        out.append(ids[int(rng.choice(len(ids), p=zipf_probs(len(ids), QUERY_ZIPF)))])
    return out
