"""Seeded workload inputs, written to parquet by DuckDB during set-up.

The engine reads only the parquet files written here. The corpus and its
edge table come from ``corpus_sql_ctes`` — DuckDB SQL that regenerates the
engine's synthetic corpus term for term — so the edge table doubles as the
independent oracle for the engine's own edge derivation (the oracle derives
edges arithmetically; the engine parses them out of file contents).

Input guard: every set-up also writes a small canary input at a fixed seed,
compares its size and checksums with ``pins.json``, and checks that the real
input's edges-per-node ratio sits inside the pinned band. A change to the
generator therefore fails set-up loudly instead of silently changing the
workload. After a deliberate generator change, refresh the pins with
``python3 perfbench/inputs.py --pin`` and say so in the change.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webgraph_spark.sources.corpus import corpus_sql_ctes  # noqa: E402

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")

# corpus generator shape per workload (the corpus seed is --seed)
SHAPES = {
    "ingest_rank": {"n_repos": 10, "files_per_repo": 2000, "max_imports": 8},
    "fixpoint_dense": {"n_repos": 5, "files_per_repo": 2000, "max_imports": 48},
}
CANARY_SEED = 0
CANARY_REPOS = 1
# relative band the real input's edges/node must fall in around the pin
RATIO_BAND = 0.1

# order-insensitive edge checksum: sum of a per-edge Lehmer mix mod 2^31-1;
# every intermediate stays < 2^63 in both int64 numpy and DuckDB BIGINT
_M, _P, _A1, _A2 = 2147483647, 1000003, 48271, 16807


def edge_checksum_sql(src: str, dst: str) -> str:
    return f"sum(((({src} * {_P} + {dst}) % {_M}) * {_A1} % {_M}) * {_A2} % {_M})::BIGINT"


def edge_checksum(src: np.ndarray, dst: np.ndarray) -> int:
    x = (src.astype(np.int64) * _P + dst.astype(np.int64)) % _M
    return int((x * _A1 % _M * _A2 % _M).sum())


class GuardError(RuntimeError):
    """The generated input is not the workload the benchmark was pinned to."""


def _with(ctes: dict[str, str], *names: str) -> str:
    return "WITH " + ", ".join(ctes[n] for n in names) + " "


def _connect():
    """One DuckDB thread: set-up time then varies less with the box's load."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=1")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{tempfile.gettempdir()}'")
    con.execute("SET preserve_insertion_order=false")
    return con


def _write(con, workload: str, shape: dict, seed: int, dest: str) -> dict:
    """Write one input under ``dest`` and return its record."""
    os.makedirs(dest, exist_ok=True)
    ctes = corpus_sql_ctes(**shape, seed=seed)
    if workload == "ingest_rank":
        con.execute(
            f"COPY ({_with(ctes, 'idx', 'imp', 'corpus')}"
            f"SELECT repo, path, content, content_sha FROM corpus) "
            f"TO '{dest}/corpus.parquet' (FORMAT parquet)"
        )
        edges_file = "oracle_edges.parquet"
    else:
        n = shape["n_repos"] * shape["files_per_repo"]
        con.execute(
            f"COPY (SELECT unnest(range({n}))::BIGINT AS id) "
            f"TO '{dest}/nodes.parquet' (FORMAT parquet)"
        )
        edges_file = "edges.parquet"
    con.execute(
        f"COPY ({_with(ctes, 'idx', 'imp', 'edges')}SELECT src, dst FROM cedges) "
        f"TO '{dest}/{edges_file}' (FORMAT parquet)"
    )
    m, chk = con.execute(
        f"SELECT count(*), {edge_checksum_sql('src', 'dst')} FROM '{dest}/{edges_file}'"
    ).fetchone()
    record = {
        "n": shape["n_repos"] * shape["files_per_repo"],
        "m": int(m),
        "edge_checksum": int(chk or 0),
    }
    if workload == "ingest_rank":
        record["corpus_checksum"] = int(
            con.execute(
                f"SELECT sum(('0x' || substring(content_sha, 1, 15))::BIGINT"
                f" % {_M})::BIGINT FROM '{dest}/corpus.parquet'"
            ).fetchone()[0]
        )
    return record


def generate(workload: str, seed: int, dest: str) -> dict:
    """Write the workload's input under ``dest`` (and the canary under
    ``dest/canary``); return the input's record ``{n, m, edge_checksum[,
    corpus_checksum]}`` once the guard passes.

    ingest_rank writes ``corpus.parquet`` (engine input) and
    ``oracle_edges.parquet`` (DuckDB's arithmetic derivation, read only by
    the oracles); fixpoint_dense writes ``edges.parquet`` and
    ``nodes.parquet``, both engine input.
    """
    con = _connect()
    try:
        record = _write(con, workload, SHAPES[workload], seed, dest)
        canary = _write(
            con, workload, dict(SHAPES[workload], n_repos=CANARY_REPOS),
            CANARY_SEED, os.path.join(dest, "canary"),
        )
    finally:
        con.close()
    check(workload, record, canary)
    return record


def check(workload: str, record: dict, canary_record: dict) -> None:
    with open(PINS) as f:
        pins = json.load(f)[workload]
    if canary_record != pins["canary"]:
        raise GuardError(
            f"{workload}: canary input changed: generated {canary_record}, "
            f"pinned {pins['canary']} — the corpus generator changed, so this "
            "is no longer the benchmarked workload"
        )
    ratio = record["m"] / record["n"]
    lo, hi = pins["edges_per_node"] * (1 - RATIO_BAND), pins["edges_per_node"] * (1 + RATIO_BAND)
    if not lo <= ratio <= hi:
        raise GuardError(
            f"{workload}: {record['m']} edges over {record['n']} nodes "
            f"({ratio:.3f}/node) is outside the pinned band [{lo:.3f}, {hi:.3f}]"
        )


def _pin() -> None:
    """Print fresh pins: the canary record and the mean edges/node of
    seeds 1..5, per workload."""
    root = os.path.join(os.path.dirname(PINS), os.pardir, ".perfbench_work", "pin")
    pins = {}
    con = _connect()
    try:
        for workload, shape in SHAPES.items():
            recs = [
                _write(con, workload, shape, s, os.path.join(root, f"{workload}-{s}"))
                for s in range(1, 6)
            ]
            pins[workload] = {
                "canary": _write(
                    con, workload, dict(shape, n_repos=CANARY_REPOS), CANARY_SEED,
                    os.path.join(root, f"{workload}-canary"),
                ),
                "edges_per_node": round(float(np.mean([r["m"] / r["n"] for r in recs])), 4),
            }
    finally:
        con.close()
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(pins, indent=2))


if __name__ == "__main__":
    if sys.argv[1:] != ["--pin"]:
        sys.exit("usage: python3 perfbench/inputs.py --pin")
    _pin()
