"""Seeded transcript generator for the benchmark.

Same table shapes and mutation classes as ``lsh_spark.synth`` (it reuses
synth's vocabulary, mutation and Jaccard helpers), but the RNG seed and
the number of base conversations are arguments. At the default seed and
``synth.TIERS["bench"]`` base conversations the output is byte-identical
to ``synth.generate_tier("bench")``.

The golden labels (``dup_labels.parquet``) are written next to the
transcripts (``transcripts.parquet``); the program under test only ever
reads the transcripts file.

    python3 perfbench/gen.py OUT_DIR [--seed N] [--n-base N]
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lsh_spark import synth  # noqa: E402

# synth seeds each tier with SEED + len(tier name); this is the bench tier's
DEFAULT_SEED = synth.SEED + len("bench")


def generate(out_dir: str, seed: int = DEFAULT_SEED,
             n_base: int = synth.TIERS["bench"]) -> str:
    """Write transcripts + golden labels into ``out_dir`` (if absent) and
    return the transcripts path."""
    tpath = os.path.join(out_dir, "transcripts.parquet")
    lpath = os.path.join(out_dir, "dup_labels.parquet")
    if os.path.exists(tpath) and os.path.exists(lpath):
        return tpath
    rng = np.random.default_rng(seed)
    cols: dict[str, list] = {c: [] for c in
                             ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    labels: dict[str, list] = {c: [] for c in
                               ("conv_id_a", "conv_id_b", "mutation",
                                "jaccard_true", "cluster_id")}

    def emit(conv_id, turns, conv_seq, shuffle_rows, boiler_at):
        texts = [" ".join(synth._VOCAB[t]) for t in turns]
        if boiler_at is not None:
            texts.insert(min(boiler_at, len(texts)), synth.BOILERPLATE)
        order = list(range(len(texts)))
        if shuffle_rows:
            rng.shuffle(order)
        for pos in order:
            cols["conv_id"].append(conv_id)
            cols["turn_idx"].append(pos)
            cols["role"].append(synth.ROLES[pos % 2])
            cols["text"].append(texts[pos])
            cols["tool"].append(synth.TOOLS[pos % 3] if pos % 7 == 3 else None)
            cols["ts"].append(synth.BASE_TS_US + conv_seq * 60_000_000
                              + pos * 1_000_000)

    def flat(turns):
        return np.concatenate(turns) if turns else np.array([], dtype=np.int64)

    # same draw order as synth.generate_tier: every 5th base conversation
    # gets a mutated partner, every 10th carries the boilerplate turn
    n_turns_all = rng.integers(3, 13, size=n_base)
    seq = 0
    for i in range(n_base):
        base_id = f"c{i:07d}"
        turns = synth._conv_tokens(rng, int(n_turns_all[i]))
        mutation = (synth.MUTATIONS[(i // 5) % len(synth.MUTATIONS)]
                    if i % 5 == 0 else None)
        boiler = (i % 10 == 1) or (mutation == "boilerplate")
        emit(base_id, turns, seq, False, 1 if boiler else None)
        seq += 1
        if mutation is None:
            continue
        dup_id = f"c{i:07d}d"
        mturns, shuffle_rows = synth._mutate(rng, turns, mutation)
        emit(dup_id, mturns, seq, shuffle_rows, 1 if boiler else None)
        seq += 1
        a, b = sorted([base_id, dup_id])
        labels["conv_id_a"].append(a)
        labels["conv_id_b"].append(b)
        labels["mutation"].append(mutation)
        labels["jaccard_true"].append(synth._jaccard_k(flat(turns), flat(mturns)))
        labels["cluster_id"].append(base_id)

    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({
        "conv_id": pa.array(cols["conv_id"], pa.string()),
        "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
        "role": pa.array(cols["role"], pa.string()),
        "text": pa.array(cols["text"], pa.string()),
        "tool": pa.array(cols["tool"], pa.string()),
        "ts": pa.array(cols["ts"], pa.timestamp("us")),
    })
    label_table = pa.table({
        "conv_id_a": pa.array(labels["conv_id_a"], pa.string()),
        "conv_id_b": pa.array(labels["conv_id_b"], pa.string()),
        "mutation": pa.array(labels["mutation"], pa.string()),
        "jaccard_true": pa.array(labels["jaccard_true"], pa.float64()),
        "cluster_id": pa.array(labels["cluster_id"], pa.string()),
    })
    # write under temporary names, then rename: a killed run never leaves a
    # half-written file that a later run would take as cached
    pq.write_table(table, tpath + ".tmp", row_group_size=65536)
    pq.write_table(label_table, lpath + ".tmp")
    os.replace(tpath + ".tmp", tpath)
    os.replace(lpath + ".tmp", lpath)
    return tpath


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("out_dir")
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--n-base", type=int, default=synth.TIERS["bench"])
    a = p.parse_args()
    print(generate(a.out_dir, a.seed, a.n_base))


if __name__ == "__main__":
    main()
