"""Deterministic synthetic transcripts table + golden duplicate labels.

Shape fixed by BASELINE.json ``input_hint``:
    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

Reference analog: the dataset of pitch-contour segmentation tuples
(reference ``loader.py:126,141``) with the golden query→song mapping
``expected_results.list`` (reference ``loader.py:55-66``). Here a
"conversation" plays the song role and planted near-duplicate partners play
the query role; ``dup_labels`` is the golden mapping used for dup-pair
recall instead of MRR.

Everything is seeded NumPy — no external data, no wall-clock dependence —
so the same tier always produces byte-identical parquet; both the Spark
queries and the DuckDB oracle read the same file.

Mutation classes (FIXTURES.md F1/F2):
  exact | token_edit_1 | token_edit_5 | token_edit_10 | turn_edit |
  reorder | boilerplate | substring
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
VOCAB_SIZE = 5000
FIXTURE_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")

# tier name -> number of base conversations
TIERS = {
    "t1": 200,        # smoke (sf0.001)
    "t2": 2000,       # correctness (sf0.01)
    "bench": 50000,   # throughput (sf0.1)
    "scale": 150000,  # N-vs-4N scaling evidence (compute-dominated)
    "xl": 450000,     # one-off scaling evidence run (~4.1M turns)
    "xxl": 1800000,   # scaling-gate tier (~16.4M turns): 4x xl so the
                      # fixed per-run terms (~5-7 s scheduler+planning)
                      # fall under 3% of the 4N-arm wall
    "xxxl": 7200000,  # gate-closure tier (~65M turns): 4x xxl — the next
                      # doubling the round-5 Amdahl decomposition
                      # (s ≈ 34-47 s fixed term) predicts raw 3v12
                      # efficiency ≥ 0.8 at this size
}
SF_TO_TIER = {"sf0.001": "t1", "sf0.01": "t2", "sf0.1": "bench"}

MUTATIONS = [
    "exact", "token_edit_1", "token_edit_5", "token_edit_10",
    "turn_edit", "reorder", "boilerplate", "substring",
]

BOILERPLATE = "hello i am your assistant how can i help you today with this task"
ROLES = ["user", "assistant"]
TOOLS = ["search", "calc", "browse"]
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds

_VOCAB = np.array([f"w{i:04d}" for i in range(VOCAB_SIZE)])


def tier_for_sf_dir(sf_dir: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return SF_TO_TIER.get(base, "t1")


def fixture_dir(tier: str) -> str:
    return os.path.join(FIXTURE_ROOT, tier)


def transcripts_path(tier: str) -> str:
    return os.path.join(fixture_dir(tier), "transcripts.parquet")


def dup_labels_path(tier: str) -> str:
    return os.path.join(fixture_dir(tier), "dup_labels.parquet")


def _conv_tokens(rng: np.random.Generator, n_turns: int) -> list[np.ndarray]:
    """Token-id arrays, one per turn."""
    lens = rng.integers(5, 60, size=n_turns)
    return [rng.integers(0, VOCAB_SIZE, size=int(n)) for n in lens]


def _mutate(rng: np.random.Generator, turns: list[np.ndarray], mutation: str
            ) -> tuple[list[np.ndarray], bool]:
    """Return (mutated turn token arrays, shuffle_rows flag)."""
    turns = [t.copy() for t in turns]
    if mutation == "exact":
        return turns, False
    if mutation.startswith("token_edit_"):
        pct = int(mutation.rsplit("_", 1)[1]) / 100.0
        for t in turns:
            n_edit = max(1, int(round(len(t) * pct))) if len(t) else 0
            if n_edit:
                idx = rng.choice(len(t), size=min(n_edit, len(t)), replace=False)
                t[idx] = rng.integers(0, VOCAB_SIZE, size=len(idx))
        return turns, False
    if mutation == "turn_edit":
        if len(turns) > 3:
            del turns[len(turns) // 2]
        else:
            turns.append(rng.integers(0, VOCAB_SIZE, size=20))
        return turns, False
    if mutation == "reorder":
        # identical content; only the physical row order in the file differs
        return turns, True
    if mutation == "boilerplate":
        return turns, False  # boilerplate turn added by caller to both convs
    if mutation == "substring":
        # fresh random turns, but one long span copied verbatim from the base
        n_new = max(3, len(turns))
        new = [rng.integers(0, VOCAB_SIZE, size=int(n))
               for n in rng.integers(5, 60, size=n_new)]
        span = max(1, len(turns) // 2)
        start = len(turns) // 4
        new[1:1 + span] = [t.copy() for t in turns[start:start + span]]
        return new, False
    raise ValueError(mutation)


def _jaccard_k(tokens_a: np.ndarray, tokens_b: np.ndarray, k: int = 5) -> float:
    def shingles(tok):
        if len(tok) < k:
            return set()
        return {tuple(tok[i:i + k]) for i in range(len(tok) - k + 1)}
    sa, sb = shingles(tokens_a), shingles(tokens_b)
    if not sa and not sb:
        return 1.0
    u = len(sa | sb)
    return len(sa & sb) / u if u else 0.0


def generate_tier(tier: str, force: bool = False) -> str:
    """Generate (if absent) the transcripts + dup_labels parquet for a tier.

    Returns the transcripts parquet path. Deterministic: same tier → same
    bytes. ~20% of base conversations get one near-duplicate partner,
    cycling through the mutation classes; an additional slice of
    conversations shares a verbatim boilerplate greeting turn (the
    hot-bucket / skew fixture).
    """
    tpath, lpath = transcripts_path(tier), dup_labels_path(tier)
    if not force and os.path.exists(tpath) and os.path.exists(lpath):
        return tpath
    n_base = TIERS[tier]
    rng = np.random.default_rng(SEED + len(tier))  # tier-stable seed

    conv_ids: list[str] = []
    rows_conv: list[str] = []
    rows_idx: list[int] = []
    rows_role: list[str] = []
    rows_text: list[str] = []
    rows_tool: list[str | None] = []
    rows_ts: list[int] = []

    lab_a, lab_b, lab_mut, lab_j, lab_cluster = [], [], [], [], []

    def emit(conv_id: str, turns: list[np.ndarray], conv_seq: int,
             shuffle_rows: bool, boiler_at: int | None):
        texts = [" ".join(_VOCAB[t]) for t in turns]
        if boiler_at is not None:
            texts.insert(min(boiler_at, len(texts)), BOILERPLATE)
        order = list(range(len(texts)))
        if shuffle_rows:
            rng.shuffle(order)
        for pos in order:
            rows_conv.append(conv_id)
            rows_idx.append(pos)
            rows_role.append(ROLES[pos % 2])
            rows_text.append(texts[pos])
            is_tool = (pos % 7 == 3)
            rows_tool.append(TOOLS[pos % 3] if is_tool else None)
            rows_ts.append(BASE_TS_US + conv_seq * 60_000_000 + pos * 1_000_000)

    n_turns_all = rng.integers(3, 13, size=n_base)
    dup_every = 5  # 20% of base convs get a duplicate partner
    boiler_every = 10  # 10% of convs carry the shared boilerplate turn
    seq = 0
    for i in range(n_base):
        base_id = f"c{i:07d}"
        turns = _conv_tokens(rng, int(n_turns_all[i]))
        mutation = MUTATIONS[(i // dup_every) % len(MUTATIONS)] if i % dup_every == 0 else None
        boiler = (i % boiler_every == 1) or (mutation == "boilerplate")
        emit(base_id, turns, seq, False, 1 if boiler else None)
        conv_ids.append(base_id)
        seq += 1
        if mutation is not None:
            dup_id = f"c{i:07d}d"
            mturns, shuffle_rows = _mutate(rng, turns, mutation)
            emit(dup_id, mturns, seq, shuffle_rows,
                 1 if (boiler or mutation == "boilerplate") else None)
            seq += 1
            a, b = sorted([base_id, dup_id])
            lab_a.append(a)
            lab_b.append(b)
            lab_mut.append(mutation)
            lab_j.append(_jaccard_k(np.concatenate(turns) if turns else np.array([], dtype=np.int64),
                                    np.concatenate(mturns) if mturns else np.array([], dtype=np.int64)))
            lab_cluster.append(base_id)

    os.makedirs(fixture_dir(tier), exist_ok=True)
    table = pa.table({
        "conv_id": pa.array(rows_conv, pa.string()),
        "turn_idx": pa.array(rows_idx, pa.int32()),
        "role": pa.array(rows_role, pa.string()),
        "text": pa.array(rows_text, pa.string()),
        "tool": pa.array(rows_tool, pa.string()),
        "ts": pa.array(rows_ts, pa.timestamp("us")),
    })
    # small row groups: parquet splits at row-group boundaries, so the
    # default ~1M-row groups cap a 4M-row tier's SCAN parallelism at 4
    # tasks no matter how many cores the session has (measured: stage-0
    # eff 0.31 at 16 cores). 64k-row groups give ~63 splits at tier xl —
    # ≥3 task waves at 16 cores, so the scan stage wall is not quantized
    # to a multiple of the per-task time (measured: 20 tasks / 16 cores
    # = 1.25 waves cost ~5 s of idle tail on a 22 s stage).
    pq.write_table(table, tpath, row_group_size=65536)
    labels = pa.table({
        "conv_id_a": pa.array(lab_a, pa.string()),
        "conv_id_b": pa.array(lab_b, pa.string()),
        "mutation": pa.array(lab_mut, pa.string()),
        "jaccard_true": pa.array(lab_j, pa.float64()),
        "cluster_id": pa.array(lab_cluster, pa.string()),
    })
    pq.write_table(labels, lpath)
    return tpath


def ensure_all(tiers=("t1", "t2")) -> None:
    for t in tiers:
        generate_tier(t)


if __name__ == "__main__":
    import sys
    for t in (sys.argv[1:] or ["t1", "t2"]):
        p = generate_tier(t)
        print(p)
