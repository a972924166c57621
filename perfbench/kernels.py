"""Spark-free rates of the Python hot loops, on one core.

Inputs are fixed (seed 42, independent of the run's --seed) so the rates
compare across runs; each kernel reports the best of several repeats.
"""

from __future__ import annotations

import os
import time

import numpy as np

REPEATS = 3


def _best(fn, *args) -> float:
    best = float("inf")
    for _ in range(REPEATS):
        t = time.perf_counter()
        fn(*args)
        best = min(best, time.perf_counter() - t)
    return best


def _docs(n: int) -> list[str]:
    from inputs import VOCAB

    rng = np.random.default_rng(42)
    return [" ".join(rng.choice(VOCAB, int(rng.integers(40, 90)))) for _ in range(n)]


def kernel_rates() -> dict[str, float]:
    from web_template_forensics_spark.fixtures.project_pairs import project_pair_rows
    from web_template_forensics_spark.functions.text_udfs import minhash_signature, simhash64
    from web_template_forensics_spark.geo.cells import cell_encode, k_ring
    from web_template_forensics_spark.geo.polygons import points_in_polygon
    from web_template_forensics_spark.oracle.cascade_oracle import replay_cascade
    from web_template_forensics_spark.oracle.html_oracle import extract_text
    from web_template_forensics_spark.plans.pipeline import world_polygons
    from web_template_forensics_spark.sources.pages import gen_pages_pdf

    html = [h.decode("utf-8") for h in gen_pages_pdf(0, 150, seed=42, rich=8)["html"]]
    rng = np.random.default_rng(42)
    lat = rng.uniform(-85.0, 85.0, 200_000)
    lon = rng.uniform(-180.0, 180.0, 200_000)
    cells = cell_encode(lat[:3000], lon[:3000], 4).tolist()
    polys = world_polygons()
    pairs = [sorted(project_pair_rows(seed=42 + i)) for i in range(12)]
    docs = _docs(400)

    def each(fn, xs):
        for x in xs:
            fn(x)

    def pip_all():
        for p in polys:
            points_in_polygon(lat, lon, p)

    old = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {min(old)})
    try:
        return {
            "oracle.html_oracle.extract_text.pages_per_s": len(html) / _best(each, extract_text, html),
            "geo.cells.cell_encode.points_per_s": len(lat) / _best(cell_encode, lat, lon, 12),
            "geo.cells.k_ring.cells_per_s": len(cells) / _best(each, lambda c: k_ring(c, 2), cells),
            "geo.polygons.points_in_polygon.points_per_s": len(lat) * len(polys) / _best(pip_all),
            "oracle.cascade_oracle.replay_cascade.pairs_per_s": len(pairs) / _best(each, replay_cascade, pairs),
            "functions.text_udfs.minhash_signature.docs_per_s": len(docs) / _best(each, minhash_signature, docs),
            "functions.text_udfs.simhash64.docs_per_s": len(docs) / _best(each, simhash64, docs),
        }
    finally:
        os.sched_setaffinity(0, old)
