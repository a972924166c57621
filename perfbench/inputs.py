"""Seeded benchmark inputs and their expected outputs.

Each (workload, seed, size) is generated once into its own directory under
the data directory and marked complete; later runs reuse it. Generation and
the expected outputs use only the existing generators, the pure-Python
oracles and DuckDB, never Spark, so none of this cost lands in a timed
window or in set-up time.
"""

from __future__ import annotations

import multiprocessing
import os
import shutil
from multiprocessing import resource_tracker

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# rows per workload: every run pays ~11 s of set-up and a long first pass,
# so passes are kept to a few seconds on a 4-core host (see README)
SIZES = {
    "pages_pipeline": 2000,  # rich=8 pages
    "spatial_queries": 8000,  # document points
    "cascade_pairs": 600,  # project pairs (~34 files each)
    "near_dup": 3000,  # documents; embeddings are 2/3 of this
}
SPATIAL_QUERIES = ("doc_cells", "tile_rollup_z6", "pip_rectangles", "knn_k5")
NEAR_DUP_QUERIES = ("minhash_pairs", "embedding_topk")
CASCADE_SAMPLE = 40  # pairs whose reports are replayed Spark-free
VERSION = "v1"


def input_dir(data_dir: str, workload: str, seed: int) -> str:
    return os.path.join(
        data_dir, "inputs", f"{workload}-seed{seed}-n{SIZES[workload]}-{VERSION}"
    )


def prepare(data_dir: str, workload: str, seed: int, procs: int) -> str:
    """Return the input directory of (workload, seed), generating it first
    if no complete copy exists."""
    out = input_dir(data_dir, workload, seed)
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _GENERATORS[workload](tmp, seed, SIZES[workload], procs)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def _pool_map(fn, args: list, procs: int) -> list:
    pool = multiprocessing.get_context("spawn").Pool(procs)
    try:
        return pool.map(fn, args)
    finally:
        # wait for the workers to exit: none may outlive generation (or be
        # counted in the run's memory)
        pool.close()
        pool.join()
        # the pool's semaphores started a resource tracker process; stop it
        # now instead of leaving it to exit after this process
        resource_tracker._resource_tracker._stop()


def _write_parquet(df: pd.DataFrame, path: str, row_groups: int) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(
        table, path, row_group_size=max(1, -(-len(df) // row_groups)), coerce_timestamps="us"
    )


# ---------------------------------------------------------------------------
# pages_pipeline: generated pages + stats/PIP/tiles from gold coordinates
# ---------------------------------------------------------------------------


def _pages_chunk(args: tuple[int, int, int]) -> pd.DataFrame:
    from web_template_forensics_spark.sources.pages import gen_pages_pdf

    start, count, seed = args
    return gen_pages_pdf(start, count, seed, with_gold=True, rich=8)


def _gen_pages(out: str, seed: int, n: int, procs: int) -> None:
    from web_template_forensics_spark.geo.cells import tile_of
    from web_template_forensics_spark.geo.polygons import points_in_polygon
    from web_template_forensics_spark.plans.pipeline import TILE_Z, world_polygons

    n_files = 2 * procs
    step = -(-n // n_files)
    chunks = [(s, min(step, n - s), seed) for s in range(0, n, step)]
    frames = _pool_map(_pages_chunk, chunks, procs)
    os.makedirs(os.path.join(out, "pages"))
    for i, f in enumerate(frames):
        cols = ["url", "warc_ts", "html", "text", "lang"]
        _write_parquet(f[cols], os.path.join(out, "pages", f"part-{i:03d}.parquet"), 1)
    gold = pd.concat(frames, ignore_index=True)
    lat = gold["gold_lat"].to_numpy(dtype=np.float64)
    lon = gold["gold_lon"].to_numpy(dtype=np.float64)
    n_bytes = gold["html"].map(len).to_numpy(dtype=np.int64)
    urls = gold["url"].to_numpy()
    pip = [
        pd.DataFrame({"id": urls[m], "poly_id": poly.poly_id})
        for poly in world_polygons()
        for m in [points_in_polygon(lat, lon, poly)]
    ]
    pd.concat(pip, ignore_index=True).to_parquet(os.path.join(out, "expected_pip.parquet"))
    tx, ty = tile_of(lat, lon, TILE_Z)
    tiles = (
        pd.DataFrame({"tile_x": tx, "tile_y": ty, "n_bytes": n_bytes})
        .groupby(["tile_x", "tile_y"], as_index=False)
        .agg(page_count=("n_bytes", "size"), byte_count=("n_bytes", "sum"))
    )
    tiles.insert(0, "tile_z", TILE_Z)
    tiles.to_parquet(os.path.join(out, "expected_tiles.parquet"))
    geocoded = int((~np.isnan(lat) & ~np.isnan(lon)).sum())
    pd.DataFrame(
        [
            {
                "pages": n,
                "geocoded": geocoded,
                "ungeocoded": n - geocoded,
                "pip_assignments": sum(len(p) for p in pip),
                "tiles": len(tiles),
            }
        ]
    ).to_parquet(os.path.join(out, "expected_stats.parquet"))


# ---------------------------------------------------------------------------
# spatial_queries / near_dup: a documents (+ embeddings) table and the
# DuckDB oracle output of each declared query
# ---------------------------------------------------------------------------

_LANGS = ["en", "de", "fr", "es", "zh"]
VOCAB = (
    "spark window merge table column vector stream value data small batch part "
    "line order sort fast scan hash slow group agg filter query big key row "
    "a customer str join index cache"
).split()


def _oracle(out: str, names: tuple[str, ...]) -> None:
    import duckdb

    from web_template_forensics_spark.plans.queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            p = os.path.join(out, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        for name in names:
            con.sql(ORACLE_SQL[name]).df().to_parquet(
                os.path.join(out, f"expected_{name}.parquet")
            )
    finally:
        con.close()


def _gen_spatial(out: str, seed: int, n: int, procs: int) -> None:
    rng = np.random.default_rng(seed)
    # a seeded id subset: point positions are a hash of doc_id, so the
    # seed moves every point while density stays the same
    ids = np.sort(rng.choice(4 * n, size=n, replace=False)).astype(np.int64)
    docs = pd.DataFrame(
        {
            "doc_id": ids,
            "text": [f"doc {i}" for i in ids],
            "lang": rng.choice(_LANGS, n),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": rng.integers(100, 600, n).astype(np.int64),
        }
    )
    _write_parquet(docs, os.path.join(out, "documents.parquet"), 2 * procs)
    _oracle(out, SPATIAL_QUERIES)


def _gen_near_dup(out: str, seed: int, n: int, procs: int) -> None:
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    copied: set[int] = set()
    for i in range(n):
        # ~1 in 10 docs is a one-token edit of an earlier, not yet copied
        # original (Jaccard >= ~0.9, far above the 0.8 threshold, so the
        # oracle's banded == exact guard holds)
        if i > 10 and rng.random() < 0.1:
            src = int(rng.integers(0, i))
            if src not in copied:
                toks = texts[src].split()
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(VOCAB))
                texts.append(" ".join(toks))
                copied.update((src, i))
                continue
        texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(40, 90)))))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    _write_parquet(docs, os.path.join(out, "documents.parquet"), 2 * procs)
    m, dim = 2 * n // 3, 64
    vals = rng.standard_normal((m, dim)).astype(np.float32).ravel()
    offsets = np.arange(0, m * dim + 1, dim, dtype=np.int32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(m, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(pa.array(offsets), pa.array(vals)),
            "label": pa.array(rng.integers(0, 10, m).astype(np.int32)),
        }
    )
    pq.write_table(
        emb, os.path.join(out, "embeddings.parquet"), row_group_size=-(-m // (2 * procs))
    )
    _oracle(out, ("embedding_topk",))
    _exact_minhash_pairs(out, docs)


def _exact_minhash_pairs(out: str, docs: pd.DataFrame) -> None:
    """Expected minhash_pairs: the exact set-Jaccard threshold set over the
    shingle hashes. The DuckDB replica in ORACLE_SQL states this same
    contract (its banded == exact guard) but recomputes all 64 permutations
    in HUGEINT arithmetic, about 100 s at 3,000 documents, too slow to run
    per seed. The last step (division, threshold, rounding) is its SQL."""
    import itertools
    from collections import Counter

    import duckdb

    from web_template_forensics_spark.functions.text_udfs import shingle_hashes
    from web_template_forensics_spark.plans.queries import MINHASH_THRESHOLD

    postings: dict[int, list[int]] = {}
    sizes: dict[int, int] = {}
    for did, text in zip(docs["doc_id"].tolist(), docs["text"]):
        hv = shingle_hashes(text).tolist()
        sizes[did] = len(hv)
        for h in hv:
            postings.setdefault(h, []).append(did)
    inter = Counter(
        pair for ids in postings.values() for pair in itertools.combinations(ids, 2)
    )
    cand = pd.DataFrame(
        [(a, b, ni, sizes[a], sizes[b]) for (a, b), ni in inter.items()],
        columns=["id_a", "id_b", "ni", "na", "nb"],
    )
    con = duckdb.connect()
    try:
        con.register("cand", cand)
        con.sql(
            f"""SELECT id_a, id_b, round(ni / (na + nb - ni), 6) AS jaccard
                FROM cand WHERE ni / (na + nb - ni) >= {MINHASH_THRESHOLD}"""
        ).df().to_parquet(os.path.join(out, "expected_minhash_pairs.parquet"))
    finally:
        con.close()


# ---------------------------------------------------------------------------
# cascade_pairs: project-pair file rows + Spark-free replays of a sample
# ---------------------------------------------------------------------------


def _pairs_chunk(args: tuple[int, int, int]) -> pd.DataFrame:
    from web_template_forensics_spark.fixtures.project_pairs import project_pair_rows

    start, stop, seed = args
    rows = [
        (pid, *r) for pid in range(start, stop) for r in project_pair_rows(seed=seed + pid)
    ]
    return pd.DataFrame(rows, columns=["pair_id", "side", "path", "filetype", "content"])


def cascade_report(pid: int, rows: list[tuple[str, str, str, str]]) -> dict:
    """The per-pair report row, recomputed with the Spark-free replay."""
    from web_template_forensics_spark.oracle.cascade_oracle import replay_cascade

    rep = replay_cascade(sorted(rows))
    per = rep["per_type"]
    return {
        "pair_id": pid,
        "overall_similarity": rep["overall_similarity"],
        "total_files": rep["total_files"],
        "prediction": rep["overall_prediction"],
        "html_score": per["html"]["aggregate_score"],
        "css_score": per["css"]["aggregate_score"],
        "jsx_score": per["jsx"]["aggregate_score"],
        "js_score": per["js"]["aggregate_score"],
        "tailwind_class_similarity": rep["tailwind_aggregate"]["class_similarity"],
        "files_matched": sum(v["files_matched"] for v in per.values()),
        "files_unmatched": sum(v["files_unmatched"] for v in per.values()),
    }


def _replay(args: tuple[int, int]) -> dict:
    from web_template_forensics_spark.fixtures.project_pairs import project_pair_rows

    pid, seed = args
    return cascade_report(pid, project_pair_rows(seed=seed + pid))


def _gen_cascade(out: str, seed: int, n: int, procs: int) -> None:
    n_files = 2 * procs
    step = -(-n // n_files)
    chunks = [(s, min(s + step, n), seed) for s in range(0, n, step)]
    os.makedirs(os.path.join(out, "pairs"))
    for i, f in enumerate(_pool_map(_pairs_chunk, chunks, procs)):
        _write_parquet(f, os.path.join(out, "pairs", f"part-{i:03d}.parquet"), 1)
    rng = np.random.default_rng(seed)
    sample = sorted(int(p) for p in rng.choice(n, size=min(CASCADE_SAMPLE, n), replace=False))
    reports = _pool_map(_replay, [(p, seed) for p in sample], procs)
    pd.DataFrame(reports).to_parquet(os.path.join(out, "expected_reports.parquet"))


_GENERATORS = {
    "pages_pipeline": _gen_pages,
    "spatial_queries": _gen_spatial,
    "cascade_pairs": _gen_cascade,
    "near_dup": _gen_near_dup,
}
