"""Seeded input generation for the benchmark workloads.

Every workload is a pure function of ``(name, seed, n_turns)``. Inputs are
written once as parquet under the benchmark's cache directory and reused by
later runs with the same key; generation never happens inside a timed region.
The program under test only ever sees the generated parquet.

- ``extract_mixed``: the repo's own generator (``transcripts.gen_conv_rows``)
  with its full 21-kind payload mix.
- ``extract_chat``: chat-shaped turns, text kinds only
  (markdown plain json csv text_b64).
- ``corpus_build``: chat-shaped conversations without ``text_b64`` (its
  extraction embeds the per-turn name, so a re-emitted conversation could
  never be an exact duplicate), plus three planted populations: exact
  duplicates under new ``conv_id``s, near duplicates with one turn edited,
  and a heldout set overlapping a known subset of conversations.

All three keep the generator's mega-conversation skew: every
``MEGA_EVERY``-th conversation has ``SKEW_FACTOR`` times the turns.
Conversations ``0, 1, 2, ...`` are taken until the turn budget is reached
and the last one is cut short, so every seed gives exactly ``n_turns``
(base) turns and a throughput difference between seeds is never a size
difference.
"""

from __future__ import annotations

import json
import os
import shutil
import zlib
from collections import Counter
from datetime import datetime, timedelta, timezone

import numpy as np

MEAN_TURNS = 8
MEGA_EVERY = 200
SKEW_FACTOR = 40
#: bump when the generated bytes change, so stale caches are not reused
GEN_VERSION = 2

CHAT_KINDS = ("markdown", "plain", "json", "csv", "text_b64")
#: the generator's own relative weights for these kinds (transcripts._KIND_P)
CHAT_WEIGHTS = (0.09, 0.085, 0.08, 0.03, 0.02)
CORPUS_KINDS = CHAT_KINDS[:4]
CORPUS_WEIGHTS = CHAT_WEIGHTS[:4]

EXACT_DUP_SHARE = 0.08
NEAR_DUP_SHARE = 0.05
HELDOUT_SHARE = 0.05
#: a near duplicate differs from its source by one appended word, so with
#: at least this many words its 5-shingle Jaccard is >= 0.96 and the
#: job's 8x4 MinHash banding misses it with probability < 1e-6
NEAR_DUP_MIN_WORDS = 250
#: heldout lines need >= 10 words: after newline-joining, the first and last
#: token of a line fuse with its neighbours, leaving >= 8 interior words
HELDOUT_MIN_WORDS = 10

_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
_VOCAB = (
    "data spark table query window merge batch stream filter aggregate join row "
    "column value key scan sort hash group partition line customer order fast "
    "slow big small vector engine plan shuffle broadcast salt skew lineage"
).split()
# heldout filler draws from a disjoint vocabulary, so it contaminates nothing
_FILLER_VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor"
).split()


def _rng(*key) -> np.random.RandomState:
    return np.random.RandomState(zlib.crc32(":".join(map(str, key)).encode()) & 0x7FFFFFFF)


def _plain_payload(rng: np.random.RandomState) -> str:
    return "\n".join(
        " ".join(rng.choice(_VOCAB, size=int(rng.randint(9, 24)))) + "."
        for _ in range(int(rng.randint(1, 3)))
    )


_BUILDERS = {"plain": _plain_payload}


def _builder(kind: str):
    from docling_gfcr_spark import transcripts as T

    return _BUILDERS.get(kind) or getattr(T, f"build_{kind}_payload")


def conv_lengths(seed: int, n_turns: int) -> list[int]:
    """Turns per conversation under the generator's skew, the last one cut
    so that they sum to exactly ``n_turns``."""
    from docling_gfcr_spark import transcripts as T

    out, total = [], 0
    while total < n_turns:
        n = T.n_turns_for(seed, len(out), MEAN_TURNS, MEGA_EVERY, SKEW_FACTOR)
        n = min(n, n_turns - total)
        out.append(n)
        total += n
    return out


def _chat_conv(seed: int, conv_idx: int, n: int, kinds, weights) -> list[dict]:
    # one stream per conversation: seeding a RandomState per turn costs more
    # than building the turn
    rng = _rng("chat", seed, conv_idx)
    picks = rng.choice(len(kinds), size=n, p=np.asarray(weights) / sum(weights))
    rows = []
    for t in range(n):
        kind = kinds[int(picks[t])]
        text = _builder(kind)(rng)
        rows.append({
            "conv_id": f"conv-{conv_idx:08d}",
            "turn_idx": t,
            "role": ("user", "assistant", "tool")[t % 3],
            "text": text,
            "tool": kind,
            "ts": _EPOCH + timedelta(seconds=conv_idx * 3600 + t * 7),
        })
    return rows


def _write_parquet(rows: list[dict], path: str, n_files: int) -> None:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ])
    for i, chunk in enumerate(np.array_split(np.arange(len(df)), n_files)):
        table = pa.Table.from_pandas(df.iloc[chunk], schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def _kind_counts(tools) -> dict[str, int]:
    return dict(sorted(Counter(tools).items()))


def _gen_mixed(seed: int, n_turns: int, path: str, n_files: int) -> dict:
    """The generator's own per-conversation unit (``gen_conv_rows``, what
    ``make_transcripts`` runs in each task), here in-process: no Spark work
    may precede the timed invocation, cached input or not."""
    from docling_gfcr_spark import transcripts as T

    lengths = conv_lengths(seed, n_turns)
    rows = [
        r for c, n in enumerate(lengths)
        for r in T.gen_conv_rows(seed, c, MEAN_TURNS, MEGA_EVERY, SKEW_FACTOR)
        if r["turn_idx"] < n
    ]
    _write_parquet(rows, f"{path}/input", n_files)
    return {"n_turns": len(rows), "n_conv": len(lengths),
            "kind_counts": _kind_counts(r["tool"] for r in rows)}


def _gen_chat(seed: int, n_turns: int, path: str, n_files: int) -> dict:
    lengths = conv_lengths(seed, n_turns)
    rows = [r for c, n in enumerate(lengths) for r in _chat_conv(seed, c, n, CHAT_KINDS, CHAT_WEIGHTS)]
    _write_parquet(rows, f"{path}/input", n_files)
    return {"n_turns": len(rows), "n_conv": len(lengths),
            "kind_counts": _kind_counts(r["tool"] for r in rows)}


def _words(text: str) -> int:
    return len(text.split())


def _gen_corpus(seed: int, n_turns: int, path: str, n_files: int) -> dict:
    """Base conversations plus the three planted populations (disjoint
    source sets, so every expected stage count is exact). Mega
    conversations are never copied, which keeps the input size steady."""
    convs = [_chat_conv(seed, c, n, CORPUS_KINDS, CORPUS_WEIGHTS)
             for c, n in enumerate(conv_lengths(seed, n_turns))]
    n_conv = len(convs)
    rng = _rng("plant", seed)
    order = [int(i) for i in rng.permutation(n_conv)]

    def long_line(rows: list[dict]) -> str | None:
        lines = [
            ln for r in sorted(rows, key=lambda r: r["turn_idx"])
            if r["tool"] in ("markdown", "plain")
            for ln in r["text"].split("\n") if _words(ln) >= HELDOUT_MIN_WORDS
        ]
        return lines[0] if lines else None

    n_exact = int(EXACT_DUP_SHARE * n_conv)
    n_near = int(NEAR_DUP_SHARE * n_conv)
    n_held = int(HELDOUT_SHARE * n_conv)
    exact, near, held = [], [], {}
    for c in order:
        rows = convs[c]
        if c % MEGA_EVERY == 0:
            continue
        if len(near) < n_near and sum(_words(r["text"]) for r in rows) >= NEAR_DUP_MIN_WORDS \
                and any(r["tool"] in ("markdown", "plain") for r in rows):
            near.append(c)
        elif len(held) < n_held and (line := long_line(rows)) is not None:
            held[c] = line
        elif len(exact) < n_exact:
            exact.append(c)
    out = [r for rows in convs for r in rows]
    for c in exact:
        out += [{**r, "conv_id": f"dup-{c:08d}"} for r in convs[c]]
    for c in near:
        rows = [{**r, "conv_id": f"near-{c:08d}"} for r in convs[c]]
        # edit the first markdown/plain turn: one appended word
        j = min(i for i, r in enumerate(rows) if r["tool"] in ("markdown", "plain"))
        rows[j] = {**rows[j], "text": rows[j]["text"] + " revised"}
        out += rows
    _write_parquet(out, f"{path}/input", n_files)
    filler = [
        " ".join(_rng("filler", seed, i).choice(_FILLER_VOCAB, size=16))
        for i in range(n_held)
    ]
    heldout = [{"text": t} for t in list(held.values()) + filler]
    import pandas as pd

    pd.DataFrame(heldout).to_parquet(f"{path}/heldout.parquet", index=False)
    return {
        "n_turns": len(out),
        "n_conv": n_conv,
        "kind_counts": _kind_counts(r["tool"] for r in out),
        "exact_dups": [f"conv-{c:08d}" for c in sorted(exact)],
        "near_dups": [f"conv-{c:08d}" for c in sorted(near)],
        "contaminated": [f"conv-{c:08d}" for c in sorted(held)],
    }


def prepare(name: str, seed: int, n_turns: int, cache_dir: str, n_files: int) -> tuple[str, dict]:
    """Return ``(dir, meta)`` for the workload's cached input, generating it
    first if this key has no complete cache entry. ``dir/input`` is the
    transcripts parquet; ``corpus_build`` also has ``dir/heldout.parquet``."""
    path = os.path.join(cache_dir, f"{name}-s{seed}-t{n_turns}-v{GEN_VERSION}")
    meta_file = os.path.join(path, "meta.json")
    if os.path.exists(meta_file):
        with open(meta_file) as f:
            return path, json.load(f)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    if name == "extract_mixed":
        meta = _gen_mixed(seed, n_turns, path, n_files)
    elif name == "extract_chat":
        meta = _gen_chat(seed, n_turns, path, n_files)
    elif name == "corpus_build":
        meta = _gen_corpus(seed, n_turns, path, n_files)
    else:
        raise ValueError(f"unknown workload {name!r}")
    with open(meta_file + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_file + ".tmp", meta_file)
    return path, meta
