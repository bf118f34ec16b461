"""Seeded transcript corpus owned by the benchmark.

The engine's own ``corpus.synth_transcripts`` is deliberately not used: a
change to the program's generator must never change the benchmark's
inputs. Everything here is a pure function of ``(seed, stream)``.

A corpus is held as a token-id matrix in CSR form (``tok`` + ``off``) over
a fixed vocabulary, so the BM25 reference (``reference.py``) scores from
the same integers the text was rendered from and never tokenizes text.

Shape of the data:

- vocabulary of ``VOCAB_SIZE`` distinct plain lowercase words built from
  consonant-vowel syllables (``[a-z]+`` only, so every tokenizer that
  splits on non-alphanumerics sees exactly one token per word); frequent
  ranks get the short two-syllable words, the long tail three-syllable
  ones; which word holds which Zipf rank is seeded;
- term frequencies follow Zipf (``p(rank) ~ 1 / (rank + 2.7)``);
- conversations of 2 to ~60 turns: an optional system prompt, then
  user/assistant exchanges, with tool turns after some assistant turns;
- chat-shaped lengths: short user turns (median ~9 tokens), long-tailed
  assistant turns (median ~45, tail to 800), mid-sized tool output.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 120_000
HOT_SHORT = 6_000  # ranks [0, HOT_SHORT) use two-syllable words
_CONS = "bcdfghjklmnpqrstvwxz"
_VOWELS = "aeiou"
_SYLL = np.array([c + v for c in _CONS for v in _VOWELS], dtype=object)  # 100

ROLES = ("system", "user", "assistant", "tool")
TOOLS = np.array(["bash", "search", "browser", "editor", "python"], dtype=object)
_BASE_EPOCH = 1_700_000_000


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) — adding a stream never
    shifts the numbers another stream draws."""
    return np.random.default_rng([int(seed), *map(int, stream)])


def vocabulary(seed: int) -> np.ndarray:
    """Word per Zipf rank (index 0 = most frequent)."""
    rng = rng_for(seed, 1)
    two = (_SYLL[:, None] + _SYLL[None, :]).ravel()
    rng.shuffle(two)
    n_long = VOCAB_SIZE - HOT_SHORT
    codes = rng.choice(100**3, size=n_long, replace=False)
    three = _SYLL[codes // 10_000] + _SYLL[(codes // 100) % 100] + _SYLL[codes % 100]
    return np.concatenate([two[:HOT_SHORT], three]).astype(object)


def zipf_p(n: int = VOCAB_SIZE) -> np.ndarray:
    p = 1.0 / (np.arange(n, dtype=np.float64) + 2.7)
    return p / p.sum()


@dataclass
class Chunk:
    """A slice of transcript turns in (conv_id, turn_idx) order."""

    conv: np.ndarray  # int64 conversation number
    turn: np.ndarray  # int32 turn index within the conversation
    role: np.ndarray  # object
    tool: np.ndarray  # object, None unless role == "tool"
    tok: np.ndarray  # int32 word ids, all turns concatenated
    off: np.ndarray  # int64, len(turns) + 1 offsets into tok

    def __len__(self) -> int:
        return len(self.conv)

    @property
    def dl(self) -> np.ndarray:
        return np.diff(self.off)

    def doc_ids(self) -> np.ndarray:
        return np.array(
            [f"{conv_id(c)}:{t}" for c, t in zip(self.conv, self.turn)], dtype=object
        )

    def texts(self, words: np.ndarray) -> list[str]:
        """Render each turn as its words joined by single spaces: one big
        join, then slices at precomputed character offsets."""
        if len(self.tok) == 0:
            return [""] * len(self)
        wl = np.fromiter((len(w) for w in words), dtype=np.int64, count=len(words))
        big = " ".join(words[self.tok])
        ends = np.cumsum(wl[self.tok] + 1)  # char end (+ separator) per token
        starts = np.concatenate(([0], ends))
        cs = starts[self.off[:-1]]
        ce = starts[self.off[1:]] - 1
        return [big[a:b] for a, b in zip(cs.tolist(), ce.tolist())]


def conv_id(n: int) -> str:
    return f"c{int(n):08d}"


def _lengths(rng: np.random.Generator, role_codes: np.ndarray) -> np.ndarray:
    n = len(role_codes)
    user = 1 + rng.lognormal(np.log(8.0), 0.6, n)
    assistant = rng.lognormal(np.log(45.0), 0.9, n)
    system = rng.uniform(15, 40, n)
    tool = rng.lognormal(np.log(25.0), 0.7, n)
    out = np.choose(role_codes, [system, user, assistant, tool])
    caps = np.array([40, 120, 800, 300])[role_codes]
    return np.clip(out, 1, caps).astype(np.int64)


def _role_sequence(rng: np.random.Generator, n_turns: int) -> list[int]:
    seq = [0] if rng.random() < 0.25 else []
    while len(seq) < n_turns:
        seq.append(1)
        seq.append(2)
        while rng.random() < 0.3:  # assistant calls a tool, then answers
            seq.extend((3, 2))
    return seq[:n_turns]


def conversations(seed: int, stream: int, first_conv: int, n_turns: int) -> Chunk:
    """Whole conversations numbered from ``first_conv`` until at least
    ``n_turns`` turns exist (the last conversation is truncated to hit the
    count exactly)."""
    rng = rng_for(seed, 2, stream)
    convs, turns, roles = [], [], []
    c = first_conv
    while len(roles) < n_turns:
        want = min(2 + int(rng.geometric(0.12)), 60, n_turns - len(roles))
        seq = _role_sequence(rng, want)
        convs.extend([c] * len(seq))
        turns.extend(range(len(seq)))
        roles.extend(seq)
        c += 1
    role_codes = np.asarray(roles, dtype=np.int64)
    lens = _lengths(rng, role_codes)
    off = np.concatenate(([0], np.cumsum(lens)))
    tok = rng.choice(VOCAB_SIZE, size=int(off[-1]), p=zipf_p()).astype(np.int32)
    role = np.asarray(ROLES, dtype=object)[role_codes]
    tool = np.where(role == "tool", TOOLS[rng.integers(0, len(TOOLS), len(role))], None)
    return Chunk(
        conv=np.asarray(convs, dtype=np.int64),
        turn=np.asarray(turns, dtype=np.int32),
        role=role,
        tool=tool,
        tok=tok,
        off=off,
    )


def rewrite(seed: int, stream: int, keys: Chunk) -> Chunk:
    """New text (same conv/turn/role/tool) for existing turns — upsert
    payloads. ``keys`` supplies the identities, in (conv, turn) order."""
    rng = rng_for(seed, 3, stream)
    codes = np.array([ROLES.index(r) for r in keys.role], dtype=np.int64)
    lens = _lengths(rng, codes)
    off = np.concatenate(([0], np.cumsum(lens)))
    tok = rng.choice(VOCAB_SIZE, size=int(off[-1]), p=zipf_p()).astype(np.int32)
    return Chunk(keys.conv, keys.turn, keys.role, keys.tool, tok, off)


def with_marker(chunk: Chunk, word_id: int) -> Chunk:
    """Append one occurrence of ``word_id`` to every turn (a freshness
    probe term that exists only in this chunk)."""
    lens = chunk.dl + 1
    off = np.concatenate(([0], np.cumsum(lens)))
    tok = np.empty(int(off[-1]), dtype=np.int32)
    keep = np.ones(len(tok), dtype=bool)
    keep[off[1:] - 1] = False
    tok[keep] = chunk.tok
    tok[off[1:] - 1] = word_id
    return Chunk(chunk.conv, chunk.turn, chunk.role, chunk.tool, tok, off)


def to_arrow(chunk: Chunk, words: np.ndarray):
    """The chunk as an Arrow table in the transcript schema
    (conv_id, turn_idx, role, text, tool, ts)."""
    import pyarrow as pa

    ts = (_BASE_EPOCH + chunk.conv * 3600 + chunk.turn.astype(np.int64) * 7) * 1_000_000
    return pa.table(
        {
            "conv_id": pa.array([conv_id(c) for c in chunk.conv], pa.string()),
            "turn_idx": pa.array(chunk.turn, pa.int32()),
            "role": pa.array(chunk.role, pa.string()),
            "text": pa.array(chunk.texts(words), pa.string()),
            "tool": pa.array(chunk.tool, pa.string()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        }
    )


def write_parquet(chunk: Chunk, words: np.ndarray, path: str, n_files: int = 4) -> None:
    """Write the chunk as a directory of ``n_files`` parquet files (split
    on row ranges, so the directory stays in (conv_id, turn_idx) order)."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    tbl = to_arrow(chunk, words)
    bounds = np.linspace(0, tbl.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = tbl.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))
