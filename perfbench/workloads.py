"""The benchmark's workloads: which registered queries form one pass, and
the seed-generated read pairs of the two-stage demux/align pipeline."""

from __future__ import annotations

import os

# workload -> registered query names run, in seed-shuffled order, by one pass
QUERIES: dict[str, list[str]] = {
    # serving from the persisted HNSW store, which setup builds; nearly all
    # wall time is the beam's eager per-hop jobs.  The per-run build and
    # insert queries (q_sim_hnsw_topk, q_sim_nsw_insert) add 5-7 s a pass
    # each, more than a run of about a minute leaves room for
    "graph_search": [
        "q_sim_hnsw_search",
    ],
    # shuffle- and Python-UDF-heavy dedup that stages through persist and
    # materialize, without the graph kernel
    "corpus_dedup": [
        "q_dedup_minhash",
        "q_text_tfidf",
    ],
    # action-dominated TPC-H shapes with no eager staging: the control
    "tpch_relational": [
        "q_flagship",
        "q_shipping_priority",
        "q_returned_items",
        "q_join_inner",
        "q_market_share",
        "q_promo_revenue",
        "q_order_priority_check",
        "q_window_rank",
    ],
}

PIPELINE = "demux_align"
WORKLOADS = [*QUERIES, PIPELINE]

# demux input: read pairs over Zipf-skewed samples, a share of them
# Undetermined (pruned by convert) and a share with an empty mate
N_SAMPLES = 24
ZIPF_S = 1.1
UNDETERMINED_FRAC = 0.03
EMPTY_FRAC = 0.01
READ_LEN = 150


def sample_names() -> list[str]:
    return [f"DNA16-{84 + i:04d}-R{i + 1:04d}" for i in range(N_SAMPLES)]


def write_read_pairs(path: str, n_pairs: int, seed: int) -> dict:
    """Write ``n_pairs`` generated read pairs to a parquet file and return
    what the pipeline must produce from them, counted without Spark:
    ``{"samples": sorted kept sample names, "sam_rows": 2 x kept pairs,
    "input_bytes": file size}``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    names = np.array(sample_names() + ["Undetermined"], dtype=object)
    weights = 1.0 / np.arange(1, N_SAMPLES + 1) ** ZIPF_S
    sample = rng.choice(N_SAMPLES, size=n_pairs, p=weights / weights.sum())
    undetermined = rng.random(n_pairs) < UNDETERMINED_FRAC
    sample[undetermined] = N_SAMPLES
    empty = rng.random(n_pairs) < EMPTY_FRAC
    empty_mate = rng.integers(1, 3, size=n_pairs)  # which mate is empty

    def reads(alphabet: bytes, lo: int, hi: int) -> np.ndarray:
        codes = rng.integers(lo, hi, size=(n_pairs, READ_LEN), dtype=np.uint8)
        table = np.frombuffer(alphabet, dtype=np.uint8) if alphabet else None
        raw = table[codes] if table is not None else codes
        return raw.view(f"S{READ_LEN}").ravel().astype(str).astype(object)

    seq1, seq2 = reads(b"ACGT", 0, 4), reads(b"ACGT", 0, 4)
    qual1, qual2 = reads(b"", 35, 74), reads(b"", 35, 74)
    for mate, seq, qual in ((1, seq1, qual1), (2, seq2, qual2)):
        blank = empty & (empty_mate == mate)
        seq[blank] = ""
        qual[blank] = ""
    table = pa.table(
        {
            "sample": pa.array(names[sample], pa.string()),
            "read_id": pa.array([f"r{i:07d}" for i in range(n_pairs)], pa.string()),
            "seq1": pa.array(seq1, pa.string()),
            "qual1": pa.array(qual1, pa.string()),
            "seq2": pa.array(seq2, pa.string()),
            "qual2": pa.array(qual2, pa.string()),
        }
    )
    pq.write_table(table, path)
    kept = ~undetermined & ~empty
    return {
        "samples": sorted({str(names[s]) for s in sample[kept]}),
        "sam_rows": int(2 * kept.sum()),
        "input_bytes": os.path.getsize(path),
    }
