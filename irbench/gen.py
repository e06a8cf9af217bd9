"""Seeded source-code corpus and query generator with its own ground truth.

Everything here is a pure function of the seed: the same seed gives the
same vocabulary, files, query sets and per-document term counts.  The
engine only ever sees the rendered tables (``repo, path, commit, lang,
content``) and query text; the exact counts the generator drew stay on the
benchmark side as ground truth for the oracle.

Corpus shape:

* vocabulary of ``VOCAB_SIZE`` distinct lower-case alphabetic identifiers
  of 3..11 letters.  Digits are not used: the tokenizer keeps alphabetic
  characters only, so ``ident123`` would collapse into ``ident``;
* term frequencies follow a Zipf law over vocabulary rank;
* file lengths (identifier tokens per file) are lognormal;
* identifiers are rendered in lower, Capitalised or UPPER case and joined
  by separators made only of whitespace and kill-set punctuation, with
  numeric literals and one- and two-letter words mixed in.  Both of the
  latter are dropped by the term normalizer, so the identifier counts are
  exactly the per-document term counts the index must hold.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 30_000
ZIPF_S = 1.07
ZIPF_Q = 2.7  # Zipf-Mandelbrot offset: flattens the very top ranks a little
LEN_MU = float(np.log(70.0))  # lognormal mean exp(mu + sigma^2/2) ~ 96 tokens
LEN_SIGMA = 0.8
LEN_MAX = 4000
NOISE_FRAC = 0.12  # numeric literals and short words per identifier token

HEAD_RANKS = 100  # Zipf top-100
TORSO_RANKS = 3_000

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
_SEPARATORS = np.array(
    [" ", " ", " ", "\n", "(", ")", ", ", ";\n", " = ", "_", "/", ": ", "[", "]",
     " {\n", "}\n", "->", " + ", " * ", "\t", "<", ">", " == ", "!", "#", "|"],
    dtype=object,
)
_SHORT_WORDS = np.array(["if", "x", "i", "ok", "to", "a", "b", "id", "fn", "k"], dtype=object)
_LANGS = np.array(["py", "rs", "go", "java", "c", "ts"], dtype=object)


def _words(rng: np.random.Generator, lens: np.ndarray, exclude: set[str]) -> list[str]:
    """Distinct lower-case words of the given lengths, none in ``exclude``."""
    out: list[str] = []
    seen = set(exclude)
    for ln in lens.tolist():
        w = _LETTERS[rng.integers(0, 26, size=ln)].tobytes().decode()
        while w in seen:
            w = _LETTERS[rng.integers(0, 26, size=ln)].tobytes().decode()
        seen.add(w)
        out.append(w)
    return out


def _rank_lengths(n: int) -> np.ndarray:
    """Identifier length by Zipf rank, the same under every seed: frequent
    identifiers are short, rare ones long (3..11 letters).  Fixing lengths
    by rank keeps bytes per token, and so every per-byte metric, from
    moving with the seed."""
    r = np.arange(n)
    return 3 + np.minimum(8, np.log2(r + 2).astype(np.int64) // 2 + r % 3)


def _hex(rng: np.random.Generator, n: int, width: int) -> list[str]:
    digits = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
    flat = digits[rng.integers(0, 16, size=n * width)].tobytes().decode()
    return [flat[i * width : (i + 1) * width] for i in range(n)]


@dataclass
class Vocab:
    words: np.ndarray  # object array of str, index = term id = Zipf rank
    capitalized: np.ndarray
    upper: np.ndarray
    cdf: np.ndarray  # cumulative Zipf probabilities over term ids
    absent: list[str]  # alphabetic words of >= 3 letters that never occur
    repos: list[str]
    dirs: list[str]


def make_vocab(seed: int) -> Vocab:
    rng = np.random.default_rng([seed, 0])
    words = _words(rng, _rank_lengths(VOCAB_SIZE), set())
    absent = _words(rng, rng.integers(3, 12, size=512), set(words))
    owners, names = (_words(rng, rng.integers(3, 12, size=40), set()) for _ in range(2))
    repos = [f"{a}/{b}" for a, b in zip(owners, names)]
    dirs = _words(rng, rng.integers(3, 12, size=64), set())
    w = 1.0 / (np.arange(VOCAB_SIZE) + ZIPF_Q) ** ZIPF_S
    cdf = np.cumsum(w / w.sum())
    cdf[-1] = 1.0
    return Vocab(
        np.array(words, dtype=object),
        np.array([w.capitalize() for w in words], dtype=object),
        np.array([w.upper() for w in words], dtype=object),
        cdf, absent, repos, dirs,
    )


@dataclass
class Corpus:
    """Rendered files plus the exact counts they were rendered from.

    ``doc_ptr``/``term_ids``/``tfs`` are CSR ground truth in row order:
    row i holds terms ``term_ids[doc_ptr[i]:doc_ptr[i+1]]`` (ascending)
    with those frequencies.
    """

    repo: list[str]
    path: list[str]
    commit: list[str]
    lang: list[str]
    content: list[str]
    doc_ptr: np.ndarray
    term_ids: np.ndarray
    tfs: np.ndarray
    alnum_lens: np.ndarray  # raw tokens with an alphanumeric char, per row

    @property
    def n(self) -> int:
        return len(self.content)

    @property
    def doc_keys(self) -> list[str]:
        return [f"{r}/{p}@{c}" for r, p, c in zip(self.repo, self.path, self.commit)]

    def table(self):
        """The engine-facing table (pyarrow), in native corpus shape."""
        import pyarrow as pa

        return pa.table(
            {
                "repo": self.repo,
                "path": self.path,
                "commit": self.commit,
                "lang": self.lang,
                "content": self.content,
            }
        )


def _render(
    rng: np.random.Generator, vocab: Vocab, flat: np.ndarray, lens: np.ndarray
) -> tuple[list[str], np.ndarray]:
    """Files' text from their identifier ids (``flat``, split by ``lens``);
    returns (texts, raw tokens with an alphanumeric character per file)."""
    n_files = len(lens)
    case = rng.integers(0, 10, size=len(flat))
    toks = np.where(
        case == 8, vocab.capitalized[flat],
        np.where(case == 9, vocab.upper[flat], vocab.words[flat]),
    )
    doc = np.repeat(np.arange(n_files, dtype=np.int64), lens)
    slot = np.arange(len(flat), dtype=np.float64) - np.repeat(np.cumsum(lens) - lens, lens)
    # noise tokens: numeric literals and short words the normalizer drops
    n_noise = rng.binomial(lens, NOISE_FRAC)
    ndoc = np.repeat(np.arange(n_files, dtype=np.int64), n_noise)
    nslot = rng.random(len(ndoc)) * np.repeat(lens, n_noise) - 0.5
    noise = np.where(
        rng.random(len(ndoc)) < 0.5,
        rng.integers(0, 10_000, size=len(ndoc)).astype(str).astype(object),
        _SHORT_WORDS[rng.integers(0, len(_SHORT_WORDS), size=len(ndoc))],
    )
    all_doc = np.concatenate([doc, ndoc])
    order = np.lexsort((np.concatenate([slot, nslot]), all_doc))
    toks = np.concatenate([toks, noise])[order]
    parts = np.empty(2 * len(toks), dtype=object)
    parts[0::2] = toks
    parts[1::2] = _SEPARATORS[rng.integers(0, len(_SEPARATORS), size=len(toks))]
    per_doc = lens + n_noise
    bounds = np.concatenate([[0], np.cumsum(2 * per_doc)]).tolist()
    plist = parts.tolist()
    texts = ["".join(plist[bounds[i] : bounds[i + 1]]) for i in range(n_files)]
    return texts, per_doc.astype(np.int64)


def make_corpus(
    seed: int,
    n_files: int,
    vocab: Vocab,
    stream: int = 1,
    base: Corpus | None = None,
) -> Corpus:
    """``n_files`` seeded files.  ``stream`` separates independent draws
    under one seed (base corpus, each ingest delta, ...).

    With ``base`` given, every file is a new commit of a path that already
    exists in ``base``: its doc_key shares the base file's repo/path
    prefix and differs only in the random commit hash, so new keys
    interleave with the base keys in doc_key order the way new revisions
    of existing paths do.
    """
    rng = np.random.default_rng([seed, stream])
    lens = np.clip(
        np.rint(rng.lognormal(LEN_MU, LEN_SIGMA, size=n_files)), 1, LEN_MAX
    ).astype(np.int64)
    flat = np.searchsorted(vocab.cdf, rng.random(int(lens.sum())), side="right")
    if base is None:
        repo_i = rng.integers(0, len(vocab.repos), size=n_files)
        repo = [vocab.repos[i] for i in repo_i.tolist()]
        d1 = rng.integers(0, len(vocab.dirs), size=n_files)
        d2 = rng.integers(0, len(vocab.words), size=n_files)
        lang = _LANGS[rng.integers(0, len(_LANGS), size=n_files)].tolist()
        path = [
            f"{vocab.dirs[a]}/{vocab.words[b]}{i}.{ext}"
            for i, (a, b, ext) in enumerate(zip(d1.tolist(), d2.tolist(), lang))
        ]
    else:
        pick = rng.choice(base.n, size=n_files, replace=False)
        repo = [base.repo[i] for i in pick.tolist()]
        path = [base.path[i] for i in pick.tolist()]
        lang = [base.lang[i] for i in pick.tolist()]
    commit = _hex(rng, n_files, 40)

    content, alnum = _render(rng, vocab, flat, lens)
    doc_of = np.repeat(np.arange(n_files, dtype=np.int64), lens)
    keys, tfs = np.unique(doc_of * VOCAB_SIZE + flat, return_counts=True)
    doc_ptr = np.searchsorted(keys // VOCAB_SIZE, np.arange(n_files + 1), side="left")
    return Corpus(
        repo=repo,
        path=path,
        commit=commit,
        lang=lang,
        content=content,
        doc_ptr=doc_ptr.astype(np.int64),
        term_ids=(keys % VOCAB_SIZE).astype(np.int64),
        tfs=tfs.astype(np.int64),
        alnum_lens=alnum,
    )


@dataclass
class Query:
    qid: str
    text: str  # what the engine's query tokenizer receives
    terms: list[str]  # ground truth normalized terms, with multiplicity


def make_queries(seed: int, n: int, vocab: Vocab, stream: int = 100) -> list[Query]:
    """``n`` queries of 1..4 identifier terms each.

    Term classes are head (Zipf rank < 100), torso (rank < 3000), tail
    (the rest) and absent (never in the corpus).  The shape of query i
    (term count, the class of each term, a repeated term, a one- or
    two-letter word the tokenizer drops) depends on i only, so every seed
    asks the same mix of work; the seed picks the words.  Every query
    keeps at least one term of three or more letters.
    """
    rng = np.random.default_rng([seed, stream])
    classes = "HTLHTHLATHLT"  # head, torso, tail, absent: 4:4:3:1
    out: list[Query] = []
    for qi in range(n):
        n_terms = 1 + qi % 4
        terms: list[str] = []
        for j in range(n_terms):
            c = classes[(qi * 5 + j * 7) % len(classes)]
            if c == "H":
                t = vocab.words[int(rng.integers(0, HEAD_RANKS))]
            elif c == "T":
                t = vocab.words[int(rng.integers(HEAD_RANKS, TORSO_RANKS))]
            elif c == "L":
                t = vocab.words[int(rng.integers(TORSO_RANKS, VOCAB_SIZE))]
            else:
                t = vocab.absent[int(rng.integers(0, len(vocab.absent)))]
            terms.append(t)
        if n_terms > 1 and qi % 7 == 3:
            terms[-1] = terms[0]  # query-side repeat
        shown = [t.capitalize() if (qi + j) % 5 == 0 else t for j, t in enumerate(terms)]
        if qi % 3 == 1:
            shown.insert(qi % (len(shown) + 1), str(_SHORT_WORDS[qi % len(_SHORT_WORDS)]))
        out.append(Query(f"q{qi:05d}", " ".join(shown), terms))
    return out
