"""Seeded input generator owned by the benchmark.

Everything the engine reads is produced here from ``--seed`` alone: the
transcripts parquet (written with pyarrow, so the engine only ever sees the
files) and the query mixes. The same seed gives byte-identical inputs.

Text is a bag of words over a closed vocabulary with Zipf-skewed term
frequencies, so posting lists are realistically skewed and a handful of
head terms appear in most documents. Turns include empty text, mixed case,
punctuation and tab/newline separators, which the tokenizer must normalise.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 8000
ZIPF_S = 1.07
HEAD = np.arange(0, 8)  # head terms: present in most documents
MID = np.arange(60, 2500)  # mid-frequency band for ordinary queries
BASE_EPOCH = 1_700_000_000

VOCAB = np.array([f"w{i:05d}" for i in range(VOCAB_SIZE)])
_ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -ZIPF_S
PROBS = _ranks / _ranks.sum()

TRANSCRIPTS_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)
ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["bash", "search", "browser"])


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, all derived from one seed."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def transcripts(
    seed: int, n_conv: int, first_conv: int = 0, stream: str = "base",
    max_turns: int = 24,
) -> pa.Table:
    """n_conv conversations (conv ids first_conv..) as an Arrow table."""
    rng = _rng(seed, stream)
    n_turns = rng.integers(1, max_turns + 1, size=n_conv)
    total = int(n_turns.sum())
    conv_of = np.repeat(np.arange(n_conv), n_turns)
    starts = np.concatenate(([0], np.cumsum(n_turns)[:-1]))
    turn_idx = np.arange(total) - np.repeat(starts, n_turns)
    n_words = rng.integers(3, 60, size=total)
    kind = rng.random(total)
    n_words[kind < 0.03] = 0  # empty-text turns
    words = rng.choice(VOCAB_SIZE, size=int(n_words.sum()), p=PROBS)
    upper = rng.random(len(words)) < 0.02
    vocab_up = np.char.upper(VOCAB)
    tokens = np.where(upper, vocab_up[words], VOCAB[words])
    bounds = np.concatenate(([0], np.cumsum(n_words)))
    texts = []
    for i in range(total):
        t = " ".join(tokens[bounds[i] : bounds[i + 1]].tolist())
        if 0.03 <= kind[i] < 0.08:
            t = t.replace(" ", "\t", 1).replace(" ", "\n", 1)
        elif 0.08 <= kind[i] < 0.12:
            t = t.replace(" ", ", ", 1) + "?"
        texts.append(t)
    role = ROLES[rng.integers(0, 4, size=total)]
    role[turn_idx == 0] = "user"
    tool = np.where(role == "tool", TOOLS[rng.integers(0, 3, size=total)], None)
    conv_ids = np.array([f"c{seed % 10_000:04d}-{stream}-{first_conv + i:08d}"
                         for i in range(n_conv)])
    ts = (BASE_EPOCH + (first_conv + conv_of) * 3600 + turn_idx * 60) * 1_000_000
    return pa.table(
        {
            "conv_id": conv_ids[conv_of],
            "turn_idx": turn_idx.astype(np.int32),
            "role": role,
            "text": texts,
            "tool": tool,
            "ts": pa.array(ts, type=pa.timestamp("us")),
        },
        schema=TRANSCRIPTS_SCHEMA,
    )


def write_transcripts(table: pa.Table, path: str, files: int = 4) -> str:
    """Write whole conversations per file (the streaming input contract)."""
    os.makedirs(path, exist_ok=True)
    conv = table.column("conv_id").to_numpy(zero_copy_only=False)
    cut = np.linspace(0, len(conv), files + 1).astype(int)
    # move each cut to a conversation boundary
    for j in range(1, files):
        c = cut[j]
        while 0 < c < len(conv) and conv[c] == conv[c - 1]:
            c += 1
        cut[j] = c
    for j in range(files):
        if cut[j + 1] > cut[j]:
            pq.write_table(
                table.slice(cut[j], cut[j + 1] - cut[j]),
                os.path.join(path, f"part-{j:03d}.parquet"),
            )
    return path


def _text(idx: np.ndarray) -> str:
    return " ".join(VOCAB[idx].tolist())


def query_mix(seed: int, n: int, stream: str, head_share: float = 0.0) -> pd.DataFrame:
    """(query_id, text). Most queries are 2-8 distinct mid-frequency terms;
    head_share of them add head terms (shared blocks across a batch); 3%
    each are OOV-bearing, duplicate-term and empty-after-tokenization. The
    share of each kind is exact, in a seeded order: the costly head-term
    queries would otherwise vary in number from seed to seed (50 ± 7 in a
    batch of 500), and the batch's time with them."""
    rng = _rng(seed, stream)
    counts = {"empty": 0.03, "oov": 0.03, "dup": 0.03, "head": head_share}
    kinds = [k for k, share in counts.items() for _ in range(round(share * n))]
    kinds = rng.permutation(kinds + ["mid"] * (n - len(kinds)))
    rows = []
    for q, kind in enumerate(kinds):
        terms = rng.choice(MID, size=int(rng.integers(2, 9)), replace=False)
        if kind == "empty":
            text = "!!! ?? --"  # empty after tokenization
        elif kind == "oov":
            text = "zzqoov" + str(int(rng.integers(0, 10**6))) + " " + _text(terms[:2])
        elif kind == "dup":
            t = VOCAB[terms[0]]
            text = f"{t} {t.upper()} {_text(terms[1:3])}"
        elif kind == "head":
            h = rng.choice(HEAD, size=int(rng.integers(1, 3)), replace=False)
            text = _text(np.concatenate([h, terms[:3]]))
        else:
            text = _text(terms)
        rows.append((f"{stream}-{q:05d}", text))
    return pd.DataFrame(rows, columns=["query_id", "text"])
