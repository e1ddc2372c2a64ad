"""Independent expected state for the benchmark's correctness checks.

The expected table is a vectorised pandas last-writer-wins pass over the
event files that were actually delivered: sort by ``seq``, keep the last row
per ``(repo, path)``, drop deletes. It shares no code with the Spark path
(``pyetl_spark.cdc.oracle.replay_oracle``, the sequential reference, is
checked against it in this directory's tests).
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pyarrow.parquet as pq

KEYS = ["repo", "path"]


def read_events(paths: list[str]) -> pd.DataFrame:
    """Event rows of the given parquet files or directories, in any order."""
    frames = [pq.read_table(p).to_pandas() for p in paths]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def lww_state(events: pd.DataFrame) -> pd.DataFrame:
    """Visible state after replaying ``events``: the highest-seq row per key,
    deletes removed; indexed by ``(repo, path)``."""
    last = events.sort_values("seq", kind="mergesort").drop_duplicates(KEYS, keep="last")
    live = last[last["op"] != "delete"]
    return live.drop(columns=["op"]).set_index(KEYS).sort_index()


def expected_table(events: pd.DataFrame) -> pd.DataFrame:
    """:func:`lww_state` plus the outputs of the ingest job's default rules:
    ``lang`` upper-cased and ``content_sha`` = sha256 hex of ``content``."""
    st = lww_state(events)
    st = st.assign(
        lang=st["lang"].str.upper(),
        content_sha=[hashlib.sha256(c.encode()).hexdigest() for c in st["content"]],
    )
    return st[["seq", "lang", "content", "content_sha"]]


def input_stats(events: pd.DataFrame, seed: int, nbytes: int, top_repos: int) -> dict:
    """Events, distinct keys, input bytes, and the share of events that hit
    the ``top_repos`` most frequent repos (the hot-repo head)."""
    per_repo = events["repo"].value_counts()
    return {
        "seed": seed,
        "events": int(len(events)),
        "distinct_keys": int(events.drop_duplicates(KEYS).shape[0]),
        "deletes": int((events["op"] == "delete").sum()),
        "input_bytes": int(nbytes),
        "hot_repo_share": round(float(per_repo.head(top_repos).sum()) / max(len(events), 1), 4),
    }


def diff_table(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Mismatches between a collected table (columns repo, path, lang,
    content, content_sha) and :func:`expected_table`; empty when equal."""
    problems = []
    g = got.set_index(KEYS).sort_index()
    if not g.index.is_unique:
        problems.append("duplicate keys in table")
        return problems
    if len(g) != len(want):
        problems.append(f"row count {len(g)} != expected {len(want)}")
    missing = want.index.difference(g.index)
    extra = g.index.difference(want.index)
    if len(missing) or len(extra):
        problems.append(f"{len(missing)} keys missing, {len(extra)} unexpected")
        return problems
    g = g.loc[want.index]
    for col in ("lang", "content", "content_sha"):
        bad = int((g[col].to_numpy() != want[col].to_numpy()).sum())
        if bad:
            problems.append(f"{bad} rows with wrong {col}")
    return problems
