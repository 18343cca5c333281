"""Seeded input generators with planted duplicate families.

Every generator is a pure function of its seed: it writes parquet files and
returns the planted truth the checker scores the program's output against.
The program under test only ever sees the parquet files.

A *family* is one original document plus the copies planted from it. Every
unplanted document is a family of one. ``Truth.family`` maps each url to
its family id; ``Truth.dups`` maps each planted copy to its original and
the tier that should report the pair (exact, near or substring).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# web_pages parquet schema as the program reads it (schemas.WEB_PAGES):
# timestamps must be micro-second UTC for Spark's TimestampType
WEB_PAGES = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
LANGS = ("en", "de", "fr", "es")
DOC_TOKENS = 200
# letters only: digits would be masked by normalization and collapse texts
_ALPHA = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclass
class Truth:
    family: dict[str, str] = field(default_factory=dict)  # url -> family id
    dups: dict[str, tuple[str, str]] = field(default_factory=dict)  # copy -> (original, tier)
    exact: dict[str, list[str]] = field(default_factory=dict)  # family -> urls
    n_docs: int = 0


def _vocab(n: int = 20000) -> np.ndarray:
    """Fixed vocabulary of 6-letter words (independent of the seed)."""
    rng = np.random.default_rng(12345)
    letters = _ALPHA[rng.integers(0, 26, size=(n, 6))]
    return np.unique(np.array(["".join(w) for w in letters]))


class _Docs:
    """Token-level document factory over one seeded generator."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.vocab = _vocab()

    def tokens(self, n: int) -> list[str]:
        return list(self.vocab[self.rng.integers(0, len(self.vocab), n)])

    def text(self, toks: list[str]) -> str:
        # 2-4 lines, like a page with a title and paragraphs
        n_lines = int(self.rng.integers(2, 5))
        per = -(-len(toks) // n_lines)
        return "\n".join(
            " ".join(toks[i : i + per]) for i in range(0, len(toks), per)
        )

    def near(self, toks: list[str], edits: int = 2) -> list[str]:
        """Copy with ``edits`` substituted tokens (3-shingle Jaccard ~0.95)."""
        out = list(toks)
        for i in self.rng.choice(len(out), size=edits, replace=False):
            out[int(i)] = self.vocab[int(self.rng.integers(0, len(self.vocab)))]
        return out

    def lang(self) -> str:
        return LANGS[int(self.rng.integers(0, len(LANGS)))]


class _Corpus:
    def __init__(self, seed: int, prefix: str):
        self.d = _Docs(seed)
        self.prefix = prefix
        self.rows: list[tuple[str, str, str]] = []
        self.truth = Truth()

    def add(self, kind: str, text: str, lang: str, family: str | None = None) -> str:
        url = f"http://h{len(self.rows) % 97}.example/{self.prefix}/{kind}{len(self.rows)}"
        self.rows.append((url, text, lang))
        self.truth.family[url] = family or url
        return url

    def add_copy(self, kind: str, text: str, lang: str, original: str, tier: str) -> str:
        fam = self.truth.family[original]
        url = self.add(kind, text, lang, fam)
        self.truth.dups[url] = (original, tier)
        return url

    def table(self, rows: list[tuple[str, str, str]], ts0: int = 0) -> pa.Table:
        n = len(rows)
        return pa.table(
            {
                "url": [r[0] for r in rows],
                "warc_ts": pa.array(
                    (1_704_067_200 + ts0 + np.arange(n)) * 1_000_000,
                    pa.timestamp("us", tz="UTC"),
                ),
                "html": pa.nulls(n, pa.binary()),
                "text": [r[1] for r in rows],
                "lang": [r[2] for r in rows],
            },
            schema=WEB_PAGES,
        )


def batch_corpus(
    out_dir: Path,
    seed: int,
    *,
    n_unique: int,
    n_exact: int,
    n_near: int,
    n_substring: int,
    n_hot: int,
    n_files: int,
) -> Truth:
    """web_pages corpus for ``Pipeline.run``.

    Families: ``n_exact`` byte-identical triples, ``n_near`` triples of an
    original and two 2-token edits, ``n_substring`` pairs whose second doc
    embeds a 120-token span of the first, and one hot-template family of
    ``n_hot`` docs that share a 190-token template (pairwise Jaccard ~0.88)
    so that every LSH band bucket of the template exceeds the bucket cap.
    Rows are shuffled and written as ``n_files`` parquet files.
    """
    c = _Corpus(seed, "b")
    d = c.d
    for _ in range(n_unique):
        c.add("u", d.text(d.tokens(DOC_TOKENS)), d.lang())
    for i in range(n_exact):
        lang, text = d.lang(), d.text(d.tokens(DOC_TOKENS))
        o = c.add("e", text, lang)
        urls = [o] + [c.add_copy("e", text, lang, o, "exact") for _ in range(2)]
        c.truth.exact[c.truth.family[o]] = urls
    for _ in range(n_near):
        lang, toks = d.lang(), d.tokens(DOC_TOKENS)
        o = c.add("n", d.text(toks), lang)
        for _ in range(2):
            c.add_copy("n", d.text(d.near(toks)), lang, o, "near")
    for _ in range(n_substring):
        lang, toks = d.lang(), d.tokens(DOC_TOKENS)
        o = c.add("s", d.text(toks), lang)
        span = toks[40:160]
        c.add_copy("s", " ".join(d.tokens(40) + span + d.tokens(40)), lang, o, "substring")
    if n_hot:
        template = d.tokens(190)
        o = c.add("t", " ".join(template + d.tokens(10)), "en")
        for _ in range(n_hot - 1):
            c.add_copy("t", " ".join(template + d.tokens(10)), "en", o, "near")
    order = d.rng.permutation(len(c.rows))
    rows = [c.rows[i] for i in order]
    out_dir.mkdir(parents=True, exist_ok=True)
    for k, part in enumerate(np.array_split(np.arange(len(rows)), n_files)):
        pq.write_table(
            c.table([rows[i] for i in part], int(part[0]) if len(part) else 0),
            out_dir / f"part-{k:05d}.parquet",
        )
    c.truth.n_docs = len(rows)
    return c.truth


def stream_drops(
    drop_dir: Path,
    seed: int,
    *,
    n_drops: int,
    drop_docs: int,
    files_per_drop: int,
    copy_frac: float = 0.3,
) -> Truth:
    """A backlog of ``n_drops`` web_pages drops for the streaming path.

    Drop 0 holds only new documents. Each later drop holds new documents
    plus copies of documents from earlier drops: half byte-exact, half
    2-token edits, each original copied at most once. Each drop is split
    into ``files_per_drop`` files so the file source's per-trigger file cap
    takes exactly one drop per trigger; drop k's files get modification
    time base+k so the source orders drops correctly.
    """
    c = _Corpus(seed, "s")
    d = c.d
    drop_dir.mkdir(parents=True, exist_ok=True)
    originals: list[tuple[str, list[str], str]] = []  # url, tokens, lang
    base = 1_700_000_000
    for k in range(n_drops):
        start = len(c.rows)
        n_copy = 0 if k == 0 else int(drop_docs * copy_frac)
        pool = d.rng.choice(len(originals), size=n_copy, replace=False) if n_copy else []
        for j, idx in enumerate(pool):
            o, toks, lang = originals[int(idx)]
            if j % 2 == 0:
                copy = c.add_copy("x", d.text(toks), lang, o, "exact")
                c.truth.exact[c.truth.family[o]] = [o, copy]
            else:
                c.add_copy("y", d.text(d.near(toks)), lang, o, "near")
        chosen = set(int(i) for i in pool)
        originals = [o for i, o in enumerate(originals) if i not in chosen]
        for _ in range(drop_docs - n_copy):
            lang, toks = d.lang(), d.tokens(DOC_TOKENS)
            originals.append((c.add("u", d.text(toks), lang), toks, lang))
        rows = c.rows[start:]
        rows = [rows[i] for i in d.rng.permutation(len(rows))]
        for f, part in enumerate(np.array_split(np.arange(len(rows)), files_per_drop)):
            path = drop_dir / f"drop{k:03d}-{f:03d}.parquet"
            pq.write_table(c.table([rows[i] for i in part], start), path)
            os.utime(path, (base + k, base + k))
    c.truth.n_docs = len(c.rows)
    return c.truth
