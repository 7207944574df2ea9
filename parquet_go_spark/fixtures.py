"""Deterministic transcript-table generator (FIXTURES.md §F1).

Produces the exact BASELINE.json ``input_hint`` shape:
(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp[us]) — the stand-in for "parquet-go's round-trip test
vectors" since the reference mount was empty (SURVEY.md §0).

Fully vectorized (numpy + arrow compute); draw order is fixed and
documented so every session regenerates identical bytes:
1. lens   = rng.integers(2, 40, n_conv)
2. starts = rng.integers(0, 30*86400, n_conv)        # seconds past epoch0
3. coin   = rng.random(n) < 0.8                       # parity-role rows
4. role4  = rng.integers(0, 4, n)                     # used where ~coin
5. tool10 = rng.integers(0, 10, n)                    # used on assistant rows
6. wc     = rng.integers(3, 60, n)
7. words  = rng.integers(0, 25, wc.sum())
8. deltas = rng.integers(1, 120, n)                   # ts step per turn
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

VOCAB = np.array(
    "the agent ran a tool call and observed output then replied with an "
    "answer about spark parquet encoding dictionary compression column "
    "partition shuffle error retry".split()
)
ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(
    ["", "", "", "", "bash", "read", "write", "search", "browser", "edit"]
)
EPOCH0 = np.datetime64("2025-01-01T00:00:00", "us")

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def make_transcripts(
    n_conv: int, seed: int = 42, giant_conv_turns: int = 0,
    _text_slice_rows: int = 4_000_000, conv_prefix: str = "conv-"
) -> pa.Table:
    """Generate the deterministic transcript table as a pyarrow Table.

    ``giant_conv_turns`` > 0 appends one extra conversation with that many
    turns (the skew fixture). ``conv_prefix`` namespaces the conv ids
    (sharded multi-seed generation must not collide ids across shards —
    colliding ids interleave unrelated conversations under the
    (conv_id, turn_idx) sort and randomize ts deltas).
    ``_text_slice_rows`` bounds how many rows'
    words are materialized per text-build slice: one giant call (1.6 M
    convs ≈ 1e9 words ≈ 6 GB of word bytes) overflows the 32-bit string
    offsets if joined in a single array — values are identical for any
    slice size, only the chunking of the ``text`` column differs."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(2, 40, n_conv)
    if giant_conv_turns:
        lens = np.concatenate([lens, [giant_conv_turns]])
        n_conv += 1
    n = int(lens.sum())
    starts = rng.integers(0, 30 * 86400, n_conv)
    coin = rng.random(n) < 0.8
    role4 = rng.integers(0, 4, n)
    tool10 = rng.integers(0, 10, n)
    wc = rng.integers(3, 60, n)
    words = rng.integers(0, 25, int(wc.sum()))
    deltas = rng.integers(1, 120, n)

    conv_of_row = np.repeat(np.arange(n_conv), lens)
    row_starts = np.zeros(n_conv, dtype=np.int64)
    np.cumsum(lens[:-1], out=row_starts[1:])
    turn_idx = (np.arange(n) - np.repeat(row_starts, lens)).astype(np.int32)

    role_idx = np.where(coin, turn_idx % 2, role4)  # 0=user,1=assistant parity
    role = ROLES[role_idx]
    tool = np.where(role_idx == 1, TOOLS[tool10], "")

    # text: ListArray of words joined by " " (vectorized in arrow C++),
    # built per row-slice so each slice's flat word bytes stay far below
    # the 32-bit string-offset ceiling
    woff = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(wc, out=woff[1:])
    text_chunks = [pa.array([], type=pa.string())]  # n == 0 stays typed
    for r0 in range(0, n, _text_slice_rows):
        r1 = min(n, r0 + _text_slice_rows)
        w0 = int(woff[r0])
        flat = pa.array(VOCAB[words[w0:int(woff[r1])]])
        if isinstance(flat, pa.ChunkedArray):
            flat = flat.combine_chunks()
        word_list = pa.LargeListArray.from_arrays(
            pa.array(woff[r0 : r1 + 1] - w0, type=pa.int64()), flat
        )
        text_chunks.append(
            pc.binary_join(word_list, pa.scalar(" ", type=flat.type)).cast(
                pa.string()
            )
        )
    text = pa.chunked_array(text_chunks)

    # ts: per-conv start + cumsum of per-turn deltas (turn 0 = start + delta0)
    cum = np.cumsum(deltas)
    conv_cum_base = cum[row_starts] - deltas[row_starts]
    secs = starts[conv_of_row] + (cum - np.repeat(conv_cum_base, lens))
    ts = EPOCH0 + (secs * 1_000_000).astype("timedelta64[us]")

    conv_id = np.char.add(conv_prefix,
                          np.char.zfill(conv_of_row.astype("U8"), 8))

    return pa.table(
        {
            "conv_id": pa.array(conv_id, type=pa.string()),
            "turn_idx": pa.array(turn_idx, type=pa.int32()),
            "role": pa.array(role, type=pa.string()),
            "text": text,
            "tool": pa.array(tool, type=pa.string()),
            "ts": pa.array(ts, type=pa.timestamp("us")),
        },
        schema=SCHEMA,
    )


def make_transcripts_df(spark, n_conv: int, seed: int = 42,
                        giant_conv_turns: int = 0):
    """Transcript fixture as a Spark DataFrame (via pandas/Arrow)."""
    tbl = make_transcripts(n_conv, seed, giant_conv_turns)
    ddl = ("conv_id string, turn_idx int, role string, text string, "
           "tool string, ts timestamp")
    return spark.createDataFrame(tbl.to_pandas(), schema=ddl)
