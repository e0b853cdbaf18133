"""Output checks: committed-table value hashes, triple P/R, oracle hashes.

Committed tables are read straight from their snapshot manifests with
pyarrow (no Spark job), so a check costs no engine time and cannot
perturb the engine state the next measured pass sees.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TRIPLE_COLS = ["subj", "pred", "obj"]
KG_TABLES = ("linked", "canonical", "edges", "triples", "nodes")


class CheckFailed(AssertionError):
    """A workload produced output that does not match its reference."""


def live_files(table_root: str) -> list[str]:
    """Data files of the table's current snapshot."""
    snap_dir = os.path.join(table_root, "_snapshots")
    with open(os.path.join(snap_dir, "CURRENT")) as f:
        sid = int(f.read().strip())
    with open(os.path.join(snap_dir, f"{sid:08d}.json")) as f:
        files = json.load(f)["files"]
    return [os.path.join(table_root, "data", p) for p in files]


def live_bytes(warehouse: str, tables=KG_TABLES) -> int:
    return sum(os.path.getsize(p) for t in tables
               for p in live_files(os.path.join(warehouse, t)))


def read_table(warehouse: str, name: str, cols=None) -> pd.DataFrame:
    files = live_files(os.path.join(warehouse, name))
    return pq.ParquetDataset(files).read(columns=cols).to_pandas()


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = {}
    for c in sorted(pdf.columns):
        s = pdf[c]
        if s.dtype.kind == "f":
            s = s.round(6)
        elif s.dtype == object:
            s = s.map(lambda v: "\x1f".join(map(str, v))
                      if isinstance(v, (list, np.ndarray)) else
                      ("\x00" if v is None else str(v)))
        out[c] = s
    return pd.DataFrame(out)


def frame_hash(pdf: pd.DataFrame, distinct: bool = False) -> str:
    """Order-insensitive hash of a frame's values: row count plus the
    wrapping sum of per-row hashes (set semantics with ``distinct``)."""
    norm = _normalize(pdf)
    if distinct:
        norm = norm.drop_duplicates()
    h = pd.util.hash_pandas_object(norm, index=False).to_numpy(np.uint64)
    return f"{len(norm)}:{int(h.sum(dtype=np.uint64)):016x}"


def table_hashes(warehouse: str, tables=KG_TABLES) -> dict[str, str]:
    return {t: frame_hash(read_table(warehouse, t)) for t in tables}


def expect_equal(got: dict, want: dict, what: str):
    bad = sorted(k for k in want if got.get(k) != want[k])
    if bad:
        raise CheckFailed(f"{what}: {', '.join(bad)} differ")


def triple_pr(warehouse: str, docs_pdf: pd.DataFrame,
              catalog_pdf: pd.DataFrame) -> tuple[float, float]:
    """Precision and recall of the committed triples against the pandas
    reference pipeline (fashion_knowledge_graph_spark.oracle) on the
    same inputs."""
    from fashion_knowledge_graph_spark import oracle

    ref = oracle.full_pipeline(docs_pdf, catalog_pdf)
    ec = ref["edges_canon"]
    exp = pd.concat([ref["triples_attr"][TRIPLE_COLS],
                     ref["triples_text"][TRIPLE_COLS],
                     pd.DataFrame({"subj": ec["src"], "pred": "complements",
                                   "obj": ec["dst"]})], ignore_index=True)
    got = read_table(warehouse, "triples", TRIPLE_COLS)
    exp_set = set(exp.itertuples(index=False, name=None))
    got_set = set(got.itertuples(index=False, name=None))
    tp = len(got_set & exp_set)
    return tp / max(len(got_set), 1), tp / max(len(exp_set), 1)
