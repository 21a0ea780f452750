"""Seeded benchmark inputs: a transcripts corpus, its independent
recount, and query titles drawn from the corpus's own df bands.

The corpus follows the transcripts shape (conv_id, turn_idx, role,
text, tool, ts) with the FIXTURES.md section 1 distribution: Zipf
s=1.1 over a 5,000-word vocabulary whose hottest 37 words are the
reference stopwords, 5-120 tokens per turn, ~1% empty or blank turns,
tf bursts and junk tokens the tokenizer strips. Everything is drawn
from one numpy Generator seeded by the caller, in whole-array
operations, so generation stays far below the build's own cost.

The recount is computed here from the generator's token ids, not by
the engine, so it can check the engine's build.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 5000
ZIPF_S = 1.1
# the reference stoplist (search_engine_spark/fixtures/stopwords.txt),
# kept here so the benchmark's inputs do not depend on engine code
STOPWORDS = ("a i do v ve s se z ze ten tenhle tento ta tahle tato to "
             "tohle toto tu tuhle tuto ja ty on ona oni ony my vy moc "
             "hodne jsem jsi je jsme jste jsou").split()
JUNK = ("42", "x1__y", "a-b,c.", "__", "9lives")
# the engine's frozen tokenizer contract, restated for the recount
TOKEN_RE = re.compile(r"[a-z][a-z0-9]*")
EPOCH_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z

SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()),
    ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])


def vocabulary(rng: np.random.Generator, n: int = VOCAB_SIZE) -> np.ndarray:
    """Stopwords first (hottest ranks), then distinct random words of
    3-9 lowercase letters."""
    words = list(STOPWORDS)
    seen = set(words)
    while len(words) < n:
        lens = rng.integers(3, 10, size=2 * n)
        letters = rng.integers(97, 123, size=(2 * n, 9), dtype=np.uint8)
        for row, ln in zip(letters, lens):
            w = row[:ln].tobytes().decode()
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return np.array(words, dtype=object)


class Corpus:
    """A generated corpus: the Arrow table and the per-turn token ids
    (in tokenizer output order) that the recount and oracle use."""

    def __init__(self, table: pa.Table, terms: np.ndarray,
                 tok_ids: np.ndarray, tok_doc: np.ndarray):
        self.table = table
        self.terms = terms          # term id -> term string
        self.tok_ids = tok_ids      # token term ids, grouped by row
        self.tok_doc = tok_doc      # row (= doc_id) of each token
        self._stats: dict | None = None

    @property
    def n_turns(self) -> int:
        return self.table.num_rows

    def text_bytes(self) -> int:
        """UTF-8 bytes of every turn's text."""
        import pyarrow.compute as pc
        return int(pc.sum(pc.binary_length(
            self.table.column("text").fill_null(""))).as_py() or 0)

    def write(self, path: str) -> None:
        pq.write_table(self.table, path)

    def docs(self) -> list[tuple[int, str | None]]:
        """(doc_id, text) with doc_id = rank over (conv_id, turn_idx),
        which is generation order."""
        return list(enumerate(self.table.column("text").to_pylist()))

    def stats(self) -> dict:
        """Independent recount: n_docs, per-term df and cf, sum df/cf."""
        if self._stats is None:
            v = len(self.terms)
            pairs = np.unique(self.tok_doc.astype(np.int64) * v + self.tok_ids)
            df = np.bincount(pairs % v, minlength=v)
            cf = np.bincount(self.tok_ids, minlength=v)
            self._stats = {"n_docs": self.n_turns, "df": df, "cf": cf,
                           "sum_df": int(df.sum()), "sum_cf": int(cf.sum()),
                           "vocab": int((df > 0).sum())}
        return self._stats


def generate(seed: int, n_turns: int) -> Corpus:
    """About ``n_turns`` turns (whole conversations, so it stops at the
    first conversation boundary at or past the target)."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng)
    # junk tokens and the terms the tokenizer extracts from them
    junk_terms = [TOKEN_RE.findall(j) for j in JUNK]
    extra = sorted({t for ts in junk_terms for t in ts} - set(vocab))
    terms = np.concatenate([vocab, np.array(extra, dtype=object)])
    term_id = {t: i for i, t in enumerate(terms)}
    junk_ids = [np.array([term_id[t] for t in ts], dtype=np.int64)
                for ts in junk_terms]

    # conversations: 1 + floor(Pareto(1.5)) turns, capped at 16
    n_convs_max = n_turns  # every conversation has at least one turn
    conv_len = np.minimum(1 + np.floor(rng.pareto(1.5, n_convs_max) + 1),
                          16).astype(np.int64)
    n_convs = int(np.searchsorted(np.cumsum(conv_len), n_turns) + 1)
    conv_len = conv_len[:n_convs]
    n = int(conv_len.sum())
    conv_of = np.repeat(np.arange(n_convs), conv_len)
    turn_idx = np.arange(n) - np.repeat(np.cumsum(conv_len) - conv_len, conv_len)

    role_tool = rng.random(n) < 0.08
    roles = np.where(role_tool, "tool",
                     np.where(turn_idx % 2 == 0, "user", "assistant"))
    tools = np.where(role_tool, np.char.add("tool-",
                                            rng.integers(0, 10, n).astype(str)),
                     None)

    empty = rng.random(n) < 0.01
    n_tok = np.where(empty, 0, rng.integers(5, 121, n))
    weights = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    body = rng.choice(VOCAB_SIZE, size=int(n_tok.sum()), p=weights / weights.sum())
    starts = np.cumsum(n_tok) - n_tok

    # tf bursts: 30% of non-empty turns repeat one of their tokens 1-4x
    burst = (~empty) & (rng.random(n) < 0.3)
    burst_len = np.where(burst, rng.integers(1, 5, n), 0)
    pick = starts + (rng.random(n) * np.maximum(n_tok, 1)).astype(np.int64)
    burst_tok = np.where(burst, body[np.minimum(pick, len(body) - 1)], -1)
    junk = (~empty) & (rng.random(n) < 0.05)
    junk_kind = np.where(junk, rng.integers(0, len(JUNK), n), -1)
    blank_kind = rng.integers(0, 3, n)  # "", "   " or null

    texts: list[str | None] = []
    tok_parts: list[np.ndarray] = []
    vocab_list = vocab.tolist()
    body_words = [vocab_list[i] for i in body.tolist()]
    for i in range(n):
        if empty[i]:
            texts.append(("", "   ", None)[blank_kind[i]])
            continue
        s, e = int(starts[i]), int(starts[i] + n_tok[i])
        words = body_words[s:e]
        ids = [body[s:e]]
        if burst_len[i]:
            words = words + [vocab_list[burst_tok[i]]] * int(burst_len[i])
            ids.append(np.full(burst_len[i], burst_tok[i], dtype=np.int64))
        if junk_kind[i] >= 0:
            words = words + [JUNK[junk_kind[i]]]
            ids.append(junk_ids[junk_kind[i]])
        texts.append(" ".join(words))
        tok_parts.append(np.concatenate(ids))
    tok_ids = np.concatenate(tok_parts).astype(np.int64)
    per_row = np.zeros(n, dtype=np.int64)
    per_row[~empty] = [len(p) for p in tok_parts]
    tok_doc = np.repeat(np.arange(n), per_row)

    conv_ids = np.char.add("conv-", np.char.zfill(conv_of.astype(str), 6))
    table = pa.table({
        "conv_id": pa.array(conv_ids.tolist(), pa.string()),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(roles.tolist(), pa.string()),
        "text": pa.array(texts, pa.string()),
        "tool": pa.array(tools.tolist(), pa.string()),
        "ts": pa.array(EPOCH_US + np.arange(n) * 1_000_000,
                       pa.timestamp("us", tz="UTC")),
    }, schema=SCHEMA)
    return Corpus(table, terms, tok_ids, tok_doc)


# df bands as shares of N: a term is hot when it is in at least 20% of
# turns, mid between 1% and 20%, rare between 3 turns and 1%.
BANDS = {"hot": (0.20, 1.01), "mid": (0.01, 0.20), "rare": (None, 0.01)}
QUERY_CLASSES = (("hot", "rare"), ("mid", "mid"), ("mid", "rare"),
                 ("hot", "hot"))


def band_terms(corpus: Corpus) -> dict[str, np.ndarray]:
    st = corpus.stats()
    df, n = st["df"], st["n_docs"]
    out = {}
    for name, (lo, hi) in BANDS.items():
        lo_df = 3 if lo is None else lo * n
        out[name] = np.flatnonzero((df >= lo_df) & (df < hi * n))
    return out


def query_titles(corpus: Corpus, seed: int, n: int) -> list[tuple[str, str]]:
    """n (qid, title) pairs cycling through the four df-band classes;
    each title is two distinct terms, one from each band of its class."""
    rng = np.random.default_rng([seed, 7])
    bands = band_terms(corpus)
    out = []
    for j in range(n):
        a, b = QUERY_CLASSES[j % len(QUERY_CLASSES)]
        while True:
            t1 = int(rng.choice(bands[a]))
            t2 = int(rng.choice(bands[b]))
            if t1 != t2:
                break
        out.append((f"q{j:04d}", f"{corpus.terms[t1]} {corpus.terms[t2]}"))
    return out
