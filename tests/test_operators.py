"""Operator-level Spark tests: UDF==oracle parity, round-trips, greedy
matching fidelity, dedup signatures."""

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from web_template_forensics_spark.geo import cells


def _edge_points(level, rng, n_random=300):
    """Random points plus the poles, the lon extremes and exact cell edges."""
    cell = 2.0 ** -level
    edge_lat = [90.0, -90.0, 0.0, 90.0 - 180.0 * cell, -90.0 + 180.0 * cell]
    edge_lon = [-180.0, float(np.nextafter(180.0, 0.0)), 0.0, -180.0 + 360.0 * cell, 180.0 - 360.0 * cell]
    lat = np.concatenate([rng.uniform(-90, 90, n_random), np.repeat(edge_lat, len(edge_lon))])
    lon = np.concatenate([rng.uniform(-180, 180, n_random), np.tile(edge_lon, len(edge_lat))])
    return lat, lon


def test_cell_id_col_matches_spec_row_by_row(spark):
    """The Column encoder equals ``cells.cell_encode`` on every row, edges
    included (poles, lon -180 and just below 180, exact cell boundaries)."""
    from web_template_forensics_spark.functions.geo_udfs import (
        cell_id_col,
        tile_ix_col,
        tile_iy_col,
    )

    rng = np.random.RandomState(3)
    levels = (0, 1, 4, 12, 26)
    frames = []
    for lvl in levels:
        lat, lon = _edge_points(lvl, rng)
        frames.append(pd.DataFrame({"level": lvl, "lat": lat, "lon": lon}))
    pdf = pd.concat(frames, ignore_index=True)
    pdf.insert(0, "i", np.arange(len(pdf)))
    df = spark.createDataFrame(pdf)
    cols = []
    for lvl in levels:
        lat, lon = "lat", "lon"
        cols += [
            cell_id_col(lat, lon, lvl).alias(f"cell_{lvl}"),
            tile_ix_col(lon, lvl).alias(f"ix_{lvl}"),
            tile_iy_col(lat, lvl).alias(f"iy_{lvl}"),
        ]
    out = df.select("i", "level", *cols).orderBy("i").toPandas()
    assert np.array_equal(out.i.to_numpy(), pdf.i.to_numpy())
    for lvl in levels:
        rows = (out.level == lvl).to_numpy()
        lat, lon = pdf.lat.to_numpy()[rows], pdf.lon.to_numpy()[rows]
        ix, iy = cells.lonlat_to_ij(lat, lon, lvl)
        assert np.array_equal(out[f"ix_{lvl}"].to_numpy()[rows], ix), lvl
        assert np.array_equal(out[f"iy_{lvl}"].to_numpy()[rows], iy), lvl
        assert np.array_equal(out[f"cell_{lvl}"].to_numpy()[rows], cells.cell_encode(lat, lon, lvl)), lvl


def test_cell_builders_reject_out_of_range_levels(spark):
    """Like ``cells.cell_encode``, the Column builders refuse a level outside
    [0, 26] when the expression is built; at level 27 the Morton bits would
    run into the level field."""
    from web_template_forensics_spark.functions.geo_udfs import (
        cell_from_ij_col,
        cell_id_col,
        k_ring_col,
    )

    for lvl in (-1, 27):
        with pytest.raises(ValueError, match="level must be in"):
            cells.cell_encode(0.0, 0.0, lvl)
        with pytest.raises(ValueError, match="level must be in"):
            cell_id_col("lat", "lon", lvl)
        with pytest.raises(ValueError, match="level must be in"):
            cell_from_ij_col("ix", "iy", lvl)
        with pytest.raises(ValueError, match="level must be in"):
            k_ring_col("ix", "iy", lvl, 1)


def test_parent_and_k_ring_cols_match_spec(spark):
    """Column parent and k-ring equal the spec's ``cell_parent`` and
    ``k_ring`` per row, including the level 0-2 disks that fold onto
    themselves through the lon wrap."""
    from web_template_forensics_spark.functions.geo_udfs import (
        cell_from_ij_col,
        k_ring_col,
        tile_ix_sql,
        tile_iy_sql,
    )

    rng = np.random.RandomState(8)
    lat, lon = _edge_points(4, rng, n_random=200)
    pdf = pd.DataFrame({"i": np.arange(len(lat)), "lat": lat, "lon": lon})
    df = spark.createDataFrame(pdf)
    pairs = [(0, 1), (1, 1), (1, 2), (2, 3), (3, 1), (4, 4), (4, 9), (12, 1), (26, 2)]
    cols = []
    for j, (lvl, k) in enumerate(pairs):
        ix, iy = tile_ix_sql("lon", lvl), tile_iy_sql("lat", lvl)
        shift = lvl // 2
        cols += [
            cell_from_ij_col(f"({ix}) >> {shift}", f"({iy}) >> {shift}", lvl - shift).alias(f"parent_{j}"),
            k_ring_col(ix, iy, lvl, k).alias(f"ring_{j}"),
        ]
    out = df.select("i", *cols).orderBy("i").toPandas()
    assert np.array_equal(out.i.to_numpy(), pdf.i.to_numpy())
    for j, (lvl, k) in enumerate(pairs):
        cell = cells.cell_encode(lat, lon, lvl)
        assert np.array_equal(out[f"parent_{j}"].to_numpy(), cells.cell_parent(cell, lvl - lvl // 2)), (lvl, k)
        for row in range(len(pdf)):
            c = int(cell[row])
            ring = np.asarray(out[f"ring_{j}"][row], dtype=np.int64)
            assert np.array_equal(np.sort(ring), cells.k_ring(c, k)), (lvl, k, row)


def test_cell_builders_are_bigint_at_levels_0_1_26(spark):
    """Every builder types as bigint at the extreme levels, and the cell SQL
    text runs unchanged in DuckDB with the same values as the spec. At
    level 0 the Morton sum is the literal 0: it used to be ``()``, invalid
    SQL in both engines."""
    import duckdb

    from web_template_forensics_spark.functions.geo_udfs import (
        cell_from_ij_col,
        cell_from_ij_sql,
        cell_id_col,
        k_ring_col,
        morton_sql,
        tile_ix_col,
        tile_ix_sql,
        tile_iy_col,
        tile_iy_sql,
    )

    assert morton_sql("ix", "iy", 0) == "0"
    rng = np.random.RandomState(11)
    lat, lon = _edge_points(26, rng, n_random=100)
    pdf = pd.DataFrame({"i": np.arange(len(lat)), "lat": lat, "lon": lon})
    df = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("pts", pdf)
    for lvl in (0, 1, 26):
        ix, iy = tile_ix_sql("lon", lvl), tile_iy_sql("lat", lvl)
        out = df.select(
            "i",
            tile_ix_col("lon", lvl).alias("ix"),
            tile_iy_col("lat", lvl).alias("iy"),
            cell_id_col("lat", "lon", lvl).alias("cell"),
            cell_from_ij_col(ix, iy, lvl).alias("cell_ij"),
            k_ring_col(ix, iy, lvl, 1).alias("ring"),
        )
        types = dict(out.dtypes)
        assert [types[c] for c in ("ix", "iy", "cell", "cell_ij", "ring")] == [
            "bigint", "bigint", "bigint", "bigint", "array<bigint>"
        ], lvl
        got = out.orderBy("i").toPandas()
        want = cells.cell_encode(lat, lon, lvl)
        assert np.array_equal(got.cell.to_numpy(), want), lvl
        assert np.array_equal(got.cell_ij.to_numpy(), want), lvl
        duck = con.sql(
            f"SELECT {cell_from_ij_sql(ix, iy, lvl)} AS cell FROM pts ORDER BY i"
        ).df()
        assert np.array_equal(duck.cell.to_numpy(), want), lvl


def test_pip_join_matches_points_in_polygon_row_by_row(spark):
    """The JVM ray cast keeps exactly the (point, polygon) pairs that
    ``points_in_polygon`` accepts, at index levels 4 and 6: concave, holed,
    antimeridian, triangle and off-grid polygons; points on vertices, on
    integer grid lines that run along horizontal edges, and null
    coordinates."""
    from web_template_forensics_spark.geo.polygons import Polygon, points_in_polygon
    from web_template_forensics_spark.operators.spatial_join import pip_join

    polys = [
        Polygon.make(1, "concave", [[(0, 0), (0, 12), (4, 12), (4, 4), (8, 4), (8, 12), (12, 12), (12, 0)]]),
        Polygon.make(2, "holed", [
            [(20, 20), (20, 40), (40, 40), (40, 20)],
            [(25, 25), (25, 35), (35, 35), (35, 25)],
        ]),
        Polygon.make(3, "antimeridian", [[(-10, 170), (-10, -170), (10, -170), (10, 170)]]),
        Polygon.make(4, "triangle", [[(-30, -30), (-30, -10), (-10, -20)]]),
        Polygon.make(5, "off-grid", [[(45.5, 100.25), (50.1, 110.3), (45.7, 120.9), (41.3, 110.1)]]),
    ]
    rng = np.random.RandomState(5)
    grid_lat, grid_lon = np.meshgrid(np.arange(-35.0, 52.0), np.arange(-180.0, 180.0))
    vertices = np.concatenate([r for p in polys for r in p.rings])
    lat = np.concatenate([grid_lat.ravel(), vertices[:, 0], rng.uniform(-35, 52, 4000)])
    lon = np.concatenate([grid_lon.ravel(), (vertices[:, 1] + 180.0) % 360.0 - 180.0,
                          rng.uniform(-180, 180, 4000)])
    rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lat, lon))]
    n = len(rows)
    rows += [(n, None, 5.0), (n + 1, 5.0, None), (n + 2, None, None)]
    points = spark.createDataFrame(rows, "id long, lat double, lon double")

    want = {
        (i, p.poly_id)
        for p in polys
        for i in np.flatnonzero(points_in_polygon(lat, lon, p)).tolist()
    }
    assert {1, 2, 3, 4, 5} == {pid for _, pid in want}
    for level in (4, 6):
        got = [(r.id, r.poly_id) for r in pip_join(spark, points, polys, index_level=level).collect()]
        assert len(got) == len(set(got)), level
        assert set(got) == want, level


def test_raster_vector_roundtrip(spark):
    from web_template_forensics_spark.operators.tiles import (
        rasterize_tiles,
        tile_rollup,
        vectorize_raster,
    )

    rng = np.random.RandomState(4)
    pdf = pd.DataFrame(
        {"lat": rng.uniform(-60, 60, 2000), "lon": rng.uniform(-170, 170, 2000)}
    )
    df = spark.createDataFrame(pdf)
    z_base, depth = 3, 3
    raster = rasterize_tiles(df, z_base, depth)
    back = vectorize_raster(raster, depth).toPandas()
    # direct fine-tile rollup must equal the raster->vector extraction
    direct = (
        tile_rollup(df, z_base + depth)
        .toPandas()
        .rename(columns={"tile_x": "fine_x", "tile_y": "fine_y", "page_count": "n"})
    )
    a = back.sort_values(["fine_x", "fine_y"]).reset_index(drop=True)
    b = direct[["fine_x", "fine_y", "n"]].sort_values(["fine_x", "fine_y"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a[["fine_x", "fine_y", "n"]], b)
    # grid cells sum to total points
    assert back.n.sum() == 2000


def test_knn_matches_bruteforce(spark):
    from web_template_forensics_spark.operators.spatial_join import knn_join

    rng = np.random.RandomState(5)
    n = 400
    pdf = pd.DataFrame(
        {
            "id": np.arange(n),
            "lat": rng.uniform(-80, 80, n),
            "lon": rng.uniform(-179, 179, n),
        }
    )
    df = spark.createDataFrame(pdf)
    probes = df.filter(F.col("id") % 10 == 0)
    got = (
        knn_join(spark, probes, df, k=4, level=3)
        .toPandas()
        .sort_values(["probe_id", "rank"])
        .reset_index(drop=True)
    )
    # pure-numpy brute force
    lats, lons = pdf.lat.to_numpy(), pdf.lon.to_numpy()
    rows = []
    for pid in range(0, n, 10):
        d2 = (lats[pid] - lats) ** 2 + (lons[pid] - lons) ** 2
        order = sorted((float(d2[j]), j) for j in range(n) if j != pid)[:4]
        for r, (dd, j) in enumerate(order, 1):
            rows.append((pid, j, r, dd))
    exp = pd.DataFrame(rows, columns=["probe_id", "neighbor_id", "rank", "dist2"])
    assert len(got) == len(exp)
    assert (got.probe_id.to_numpy() == exp.probe_id.to_numpy()).all()
    assert (got.neighbor_id.to_numpy() == exp.neighbor_id.to_numpy()).all()
    assert np.array_equal(got.dist2.to_numpy(), exp.dist2.to_numpy())


def test_greedy_match_replays_reference_semantics(spark):
    """greedy_similarity_match == the reference fuzzy loop
    (core/file_matcher.py:61-82) run on sorted inputs."""
    import difflib

    from pyspark.sql import functions as F

    from web_template_forensics_spark.functions.similarity_udfs import seq_ratio_udf
    from web_template_forensics_spark.operators.matching import greedy_similarity_match

    files1 = sorted(
        ["src/index.html", "src/about.html", "css/main.css", "js/app.js", "js/util.js"]
    )
    files2 = sorted(
        ["src/index2.html", "src/about.html", "css/maine.css", "js/apps.js", "js/extra.js"]
    )
    l = spark.createDataFrame([(p,) for p in files1], "path string")
    r = spark.createDataFrame([(p,) for p in files2], "path string")
    # the cascade's J2 candidates: basename cross join scored by difflib
    base = lambda c: F.element_at(F.split(c, "/"), -1)  # noqa: E731
    scored = (
        l.select(F.col("path").alias("left_key"), base(F.col("path")).alias("_lb"))
        .crossJoin(r.select(F.col("path").alias("right_key"), base(F.col("path")).alias("_rb")))
        .select("left_key", "right_key", seq_ratio_udf("_lb", "_rb").alias("score"))
    )
    got = {
        (row.left_key, row.right_key): row.score
        for row in greedy_similarity_match(scored, threshold=0.75).collect()
    }

    # reference loop replay (left order = sorted, rights in sorted order)
    used = set()
    exp = {}
    for f1 in files1:
        b1 = f1.split("/")[-1]
        best, best_f2 = 0.0, None
        for f2 in files2:
            if f2 in used:
                continue
            s = difflib.SequenceMatcher(None, b1, f2.split("/")[-1]).ratio()
            if s > best:
                best, best_f2 = s, f2
        if best >= 0.75 and best_f2:
            used.add(best_f2)
            exp[(f1, best_f2)] = best
    assert got == exp


def test_exact_and_latest_dedup(spark):
    from web_template_forensics_spark.operators.dedup import (
        exact_dedup,
        latest_crawl_dedup,
    )

    pdf = pd.DataFrame(
        {
            "url": ["a", "a", "b", "c", "c", "c"],
            "warc_ts": pd.to_datetime(
                ["2025-01-01", "2025-01-03", "2025-01-02", "2025-01-01", "2025-01-05", "2025-01-04"]
            ),
            "text": ["x", "x2", "y", "z", "z5", "z4"],
        }
    )
    df = spark.createDataFrame(pdf)
    latest = latest_crawl_dedup(df).toPandas().set_index("url")
    assert latest.loc["a", "text"] == "x2"
    assert latest.loc["c", "text"] == "z5"

    dd = exact_dedup(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2, 3, 4], "text": ["t", "t", "u", "t"]})
        ),
        "doc_id",
        "text",
    ).toPandas()
    byhash = dd.set_index("content_hash")
    assert sorted(dd.dup_count.tolist()) == [1, 3]
    assert byhash.loc[dd[dd.dup_count == 3].content_hash.iloc[0], "canonical_id"] == 1


def test_minhash_lsh_finds_near_dups(spark):
    from web_template_forensics_spark.operators.dedup import minhash_lsh_pairs

    base = ("the quick brown fox jumps over the lazy dog and runs far away "
            "into the deep dark forest tonight").split()
    docs = []
    for i in range(30):
        words = list(base)
        words[i % len(words)] = f"tok{i}"  # near-dup of base
        docs.append((i, " ".join(words)))
    docs.append((100, " ".join(f"z{i}" for i in range(20))))  # unrelated
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5).toPandas()
    assert len(pairs) > 100  # near-dup cluster found
    assert 100 not in set(pairs.id_a) | set(pairs.id_b)
    assert (pairs.jaccard >= 0.5).all()


def test_simhash_hamming(spark):
    from web_template_forensics_spark.operators.dedup import simhash_near_dup_pairs

    # large token count -> a one-token edit flips only a few simhash bits
    a = " ".join(f"w{i}" for i in range(400))
    b = a.replace("w3 ", "q3 ")  # one-token diff
    c = " ".join(f"v{i}" for i in range(400))
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "doc_id long, text string")
    pairs = simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=3).toPandas()
    assert {(1, 2)} == set(zip(pairs.id_a, pairs.id_b))


def test_cosine_topk_exact_and_lsh_recall(spark):
    from web_template_forensics_spark.operators.similarity_search import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
    )

    rng = np.random.RandomState(6)
    # clustered vectors (real-embedding shape): LSH recall is only
    # meaningful when neighbors are genuinely close in angle
    centers = rng.standard_normal((10, 16))
    vecs = (
        centers[np.arange(200) % 10] + 0.15 * rng.standard_normal((200, 16))
    ).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(200), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf)
    probes = df.filter(F.col("vec_id") < 20)
    exact = cosine_topk_bruteforce(probes, df, k=5).toPandas()
    # numpy verification of top-1
    m64 = vecs.astype(np.float64)
    m = m64 / np.linalg.norm(m64, axis=1, keepdims=True)
    sims = m[:20] @ m.T
    np.fill_diagonal(sims[:, :20], -2)
    for pid in range(20):
        best = int(np.argmax(sims[pid]))
        got = exact[(exact.probe_id == pid) & (exact["rank"] == 1)].neighbor_id.iloc[0]
        assert got == best
    approx = cosine_topk_lsh(probes, df, k=5, bits=8, probe_hamming=1).toPandas()
    hits = len(
        set(map(tuple, exact[["probe_id", "neighbor_id"]].values))
        & set(map(tuple, approx[["probe_id", "neighbor_id"]].values))
    )
    assert hits / len(exact) > 0.5  # recall sanity at hamming-1 probing


def test_structure_compare_udf_matches_oracle(spark):
    """The comparator as an Arrow UDF (test scaffolding: defined here, so
    it is pickled by value) equals the reference on every pair."""
    from web_template_forensics_spark.oracle.html_oracle import (
        parse_html_tree,
        tree_to_json,
    )
    from web_template_forensics_spark.oracle.similarity import compare_structures

    fields = ["score", "matching", "different", "missing", "extra"]
    schema = T.StructType(
        [T.StructField("score", T.DoubleType())]
        + [T.StructField(f, T.IntegerType()) for f in fields[1:]]
    )

    @F.pandas_udf(schema)
    def structure_compare_udf(a_json: pd.Series, b_json: pd.Series) -> pd.DataFrame:
        """Reference compare_structures (core/structure_comparator.py:430-477)."""
        rows = []
        for a, b in zip(a_json, b_json):
            res = compare_structures(
                json.loads(a) if a else None, json.loads(b) if b else None
            )
            rows.append(
                (res.similarity_score, res.matching, res.different, res.missing, res.extra)
            )
        return pd.DataFrame(rows, columns=fields)

    pairs = [
        ("<div><span>Hello</span></div>", "<div><span>Hello</span></div>"),
        ('<div class="a"><p>x</p></div>', '<div class="b"><p>y</p></div>'),
        ("<ul><li>1</li><li>2</li></ul>", "<ul><li>1</li></ul>"),
    ]
    rows = [(tree_to_json(parse_html_tree(a)), tree_to_json(parse_html_tree(b))) for a, b in pairs]
    df = spark.createDataFrame(rows, "a string, b string")
    got = df.select(structure_compare_udf("a", "b").alias("r")).select("r.*").toPandas()
    for i, (a, b) in enumerate(pairs):
        exp = compare_structures(parse_html_tree(a), parse_html_tree(b))
        assert got.score[i] == pytest.approx(exp.similarity_score, abs=0)
        assert got.matching[i] == exp.matching
        assert got.missing[i] == exp.missing


def test_contextual_match_replays_reference(spark):
    """contextual_match_scores + greedy == the reference loop
    (core/file_matcher.py:325-360) on sorted inputs."""
    from web_template_forensics_spark.operators.matching import (
        contextual_match_scores,
        greedy_similarity_match,
    )

    files1 = sorted(["app/pages/one.html", "app/pages/two.html", "lib/util/x.js"])
    files2 = sorted(["app/pages/uno.html", "app/pages/dos.html", "lib/util/y.js", "other/z.js"])
    prior = [("app/pages/one.html", "app/pages/uno.html")]

    l = spark.createDataFrame([(p,) for p in files1], "path string")
    r = spark.createDataFrame([(p,) for p in files2], "path string")
    mp = spark.createDataFrame(prior, "left_key string, right_key string")
    scored = contextual_match_scores(l, r, mp)
    got = {
        (row.left_key, row.right_key): round(row.score, 9)
        for row in greedy_similarity_match(scored, threshold=0.5).collect()
    }

    # pure-python replay of the reference loop
    used2 = {m for _, m in prior}
    exp = {}
    for f1 in files1:
        best, best_f2 = 0.0, None
        p1 = f1.split("/")
        for f2 in files2:
            if f2 in used2:
                continue
            p2 = f2.split("/")
            fs = 0
            for a, b in zip(p1[:-1], p2[:-1]):
                if a == b:
                    fs += 1
                else:
                    break
            fs = fs / max(len(p1), len(p2))
            f1p, f2p = "/".join(p1[:-1]), "/".join(p2[:-1])
            ns = sum(
                1 for o, m in prior if o.startswith(f1p) and m.startswith(f2p)
            ) / (len(prior) + 1)
            score = 0.7 * fs + 0.3 * ns
            if score > best:
                best, best_f2 = score, f2
        if best >= 0.5 and best_f2:
            used2.add(best_f2)
            exp[(f1, best_f2)] = round(best, 9)
    assert got == exp
    assert got, "expected at least one contextual match"


def test_simhash_banding_sound_at_large_radius(spark):
    """A pair at hamming 4..12 is invisible to the radius-3 banding but
    MUST be found when max_hamming=12 (13 bands, pigeonhole-sound)."""
    from web_template_forensics_spark.functions.text_udfs import simhash64
    from web_template_forensics_spark.operators.dedup import simhash_near_dup_pairs

    a = " ".join(f"w{i}" for i in range(400))
    b = None
    for k in range(2, 60):
        cand = " ".join(
            (f"q{i}" if i < k else f"w{i}") for i in range(400)
        )
        h = bin(simhash64(a) ^ simhash64(cand)).count("1")
        if 5 <= h <= 12:
            b = cand
            break
    assert b is not None, "could not construct a hamming-5..12 pair"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    wide = simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=12).toPandas()
    assert set(zip(wide.id_a, wide.id_b)) == {(1, 2)}
    assert 5 <= wide.hamming.iloc[0] <= 12
    narrow = simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=3).toPandas()
    assert len(narrow) == 0
    with pytest.raises(ValueError):
        simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=12, n_bands=4)


def test_minhash_jvm_jaccard_matches_python_sets(spark):
    """The JVM array_intersect verification == Python shingle-set Jaccard."""
    from web_template_forensics_spark.functions.text_udfs import word_shingles
    from web_template_forensics_spark.operators.dedup import minhash_lsh_pairs

    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "alpha beta gamma delta epsilon zeta eta theta"),
        (4, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = minhash_lsh_pairs(df, "doc_id", "text", threshold=0.3).toPandas()
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.itertuples()}
    texts = dict(docs)
    for (ia, ib), j in got.items():
        sa, sb = set(word_shingles(texts[ia])), set(word_shingles(texts[ib]))
        exp = 1.0 if not (sa | sb) else len(sa & sb) / len(sa | sb)
        assert j == pytest.approx(round(exp, 6), abs=0)
    assert (1, 3) in got and got[(1, 3)] == 1.0
    assert (1, 2) in got


def test_contextual_root_level_paths_match_reference(spark):
    """Root-level files (no '/') must use parent '' — the reference then
    counts EVERY prior matched pair as a sibling (file_matcher.py:346-351).
    Exercised at a low threshold where the sibling term decides; each
    root-level name appears on both sides, so the first-segment blocking
    keeps the pairs the reference loop picks."""
    from web_template_forensics_spark.operators.matching import (
        contextual_match_scores,
        greedy_similarity_match,
    )

    files1 = sorted(["index.html", "about.html", "app/x.html"])
    files2 = sorted(["index.html", "about.html", "app/y.html"])
    prior = [("lib/a.js", "lib/b.js"), ("lib/c.js", "lib/d.js")]

    l = spark.createDataFrame([(p,) for p in files1], "path string")
    r = spark.createDataFrame([(p,) for p in files2], "path string")
    mp = spark.createDataFrame(prior, "left_key string, right_key string")
    scored = contextual_match_scores(l, r, mp)
    got = {
        (row.left_key, row.right_key): round(row.score, 9)
        for row in greedy_similarity_match(scored, threshold=0.15).collect()
    }

    used2 = {m for _, m in prior}
    exp = {}
    for f1 in files1:
        best, best_f2 = 0.0, None
        p1 = f1.split("/")
        for f2 in files2:
            if f2 in used2:
                continue
            p2 = f2.split("/")
            fs = 0
            for a, b in zip(p1[:-1], p2[:-1]):
                if a == b:
                    fs += 1
                else:
                    break
            fs = fs / max(len(p1), len(p2))
            f1p, f2p = "/".join(p1[:-1]), "/".join(p2[:-1])
            ns = sum(
                1 for o, m in prior if o.startswith(f1p) and m.startswith(f2p)
            ) / (len(prior) + 1)
            score = 0.7 * fs + 0.3 * ns
            if score > best:
                best, best_f2 = score, f2
        if best >= 0.15 and best_f2:
            used2.add(best_f2)
            exp[(f1, best_f2)] = round(best, 9)
    assert got == exp
    # root files must have matched via the sibling term (parent '')
    assert any("/" not in a for a, _ in got), got


def test_text_udfs_ascii_whitespace_parity(spark):
    """UDF face == Column face == documented spec on non-ASCII whitespace
    (U+00A0 NBSP, U+2028 line separator must NOT split tokens)."""
    from web_template_forensics_spark.functions.text_udfs import (
        quality_score_col,
        quality_score_udf,
        token_count_col,
        token_count_udf,
    )

    rows = [
        ("plain ascii words here",),
        ("nbsp joined and joined tokens",),
        ("tabs\tand\nnewlines split",),
        ("",),
        (None,),  # null text: every face must yield 0, not NULL
    ]
    df = spark.createDataFrame(rows, "text string")
    out = df.select(
        token_count_udf("text").alias("t_udf"),
        token_count_col(F.col("text")).alias("t_col"),
        quality_score_udf("text").alias("q_udf"),
        quality_score_col(F.col("text")).alias("q_col"),
    ).toPandas()
    assert out.t_col.notna().all() and out.q_col.notna().all(), out
    assert (out.t_udf == out.t_col).all(), out
    assert (out.q_udf == out.q_col).all(), out
    assert out.t_col.iloc[-1] == 0  # null row
    # NBSP/LS glue tokens: 'nbsp\\u00a0joined', 'and\\u2028joined', 'tokens'
    assert out.t_udf[1] == 3


def test_bpe_token_count_three_face_parity(spark):
    """Column (Java regex) == UDF (Python re) == SQL (DuckDB RE2) on the
    BPE-ish pre-tokenizer, including contraction/apostrophe/punct edges."""
    import duckdb

    from web_template_forensics_spark.functions.text_udfs import (
        bpe_token_count_col,
        bpe_token_count_sql,
        bpe_token_count_udf,
    )

    rows = [
        ("it's a test, don't panic!!",),   # 's / 't contractions, punct runs
        ("abc123def 45.6%",),              # letter/digit runs, mixed punct
        ("'hello' said O'Brien",),         # stray quotes + capital-B contraction miss
        ("tabs\tand\nnewlines",),
        ("",),
        ("...",),
        # Java-regex trap chars: \v in a Java class is the vertical-ws
        # CLASS — these pin that the pattern uses \x0B instead, so NEL /
        # LS / PS / VT count identically in all three engines
        ("a\x85b",),
        ("a b",),
        ("a b",),
        ("a\x0bb",),
    ]
    df = spark.createDataFrame(rows, "text string")
    out = df.select(
        "text",
        bpe_token_count_col(F.col("text")).alias("n_col"),
        bpe_token_count_udf("text").alias("n_udf"),
    ).toPandas()
    assert (out.n_col == out.n_udf).all(), out
    con = duckdb.connect()
    for _, r in out.iterrows():
        n_sql = con.execute(
            f"select {bpe_token_count_sql('?')}", [r.text]
        ).fetchone()[0]
        assert n_sql == r.n_col, (r.text, n_sql, r.n_col)
    # pinned spec examples: "it's a test, don't panic!!"
    # -> it 's a test , don 't panic !!  = 9
    assert out.n_col[0] == 9
    # "'hello' said O'Brien" -> ' hello ' said O 'Brien?? (capital B:
    # contraction fails, lone ' then Brien) -> ' hello ' said O ' Brien = 7
    assert out.n_col[2] == 7


def test_ngram_hot_gram_cap(spark):
    """DF-filtered Jaccard: a gram shared by every doc is excluded from
    candidates AND the measure when the cap is set; exact without it."""
    from web_template_forensics_spark.operators.dedup import ngram_jaccard_pairs

    # every doc shares the hot trigram "a b c"; docs 1/2 also share "x y z"
    docs = [
        (1, "a b c x y z", "en"),
        (2, "a b c x y z", "en"),
        (3, "a b c q r s", "en"),
        (4, "a b c t u v", "en"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    exact = ngram_jaccard_pairs(df, "doc_id", "text", "lang", threshold=0.01).toPandas()
    exact_pairs = set(zip(exact.id_a, exact.id_b))
    assert (1, 2) in exact_pairs and (3, 4) in exact_pairs  # via the hot gram
    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", "lang", threshold=0.01, max_gram_doc_freq=3
    ).toPandas()
    capped_pairs = set(zip(capped.id_a, capped.id_b))
    assert (3, 4) not in capped_pairs  # only-shared-hot-gram pair dropped
    assert (1, 2) in capped_pairs
    # DF-filtered measure: docs 1,2 share all surviving grams -> 1.0
    row = capped[(capped.id_a == 1) & (capped.id_b == 2)]
    assert row.jaccard.iloc[0] == 1.0


def test_cosine_topk_ivf_recall(spark):
    from web_template_forensics_spark.operators.similarity_search import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    rng = np.random.RandomState(6)
    centers = rng.standard_normal((10, 16))
    vecs = (
        centers[np.arange(200) % 10] + 0.15 * rng.standard_normal((200, 16))
    ).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(200), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf)
    probes = df.filter(F.col("vec_id") < 20)
    exact = cosine_topk_bruteforce(probes, df, k=5).toPandas()
    approx = cosine_topk_ivf(probes, df, k=5, n_lists=16, n_probe=4).toPandas()
    hits = len(
        set(map(tuple, exact[["probe_id", "neighbor_id"]].values))
        & set(map(tuple, approx[["probe_id", "neighbor_id"]].values))
    )
    assert hits / len(exact) > 0.7  # clustered data: 4/16 lists recall high
    # full-probe IVF degenerates to exact
    full = cosine_topk_ivf(probes, df, k=5, n_lists=8, n_probe=8).toPandas()
    assert set(map(tuple, full[["probe_id", "neighbor_id"]].values)) == set(
        map(tuple, exact[["probe_id", "neighbor_id"]].values)
    )


def test_cosine_topk_ivf_layout_invariant(spark):
    """r3 determinism fix: the k-means training sample is orderBy(id) +
    limit, so the IVF output no longer depends on the input's partition
    layout (bare ``limit`` picked whatever partitions arrived first)."""
    from web_template_forensics_spark.operators.similarity_search import (
        cosine_topk_ivf,
    )

    rng = np.random.RandomState(9)
    vecs = rng.standard_normal((120, 8)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(120), "embedding": [v.tolist() for v in vecs]})
    df1 = spark.createDataFrame(pdf).repartition(1)
    df2 = spark.createDataFrame(pdf).repartition(13, "vec_id")
    probes1 = df1.filter(F.col("vec_id") < 10)
    out1 = cosine_topk_ivf(probes1, df1, k=3, n_lists=6, n_probe=2, sample_rows=64)
    out2 = cosine_topk_ivf(
        df2.filter(F.col("vec_id") < 10), df2, k=3, n_lists=6, n_probe=2, sample_rows=64
    )
    rows1 = sorted(map(tuple, out1.toPandas().values.tolist()))
    rows2 = sorted(map(tuple, out2.toPandas().values.tolist()))
    assert rows1 == rows2


def test_minhash_empty_docs_never_pair(spark):
    """Zero-shingle (empty / whitespace-only) docs are excluded: their
    Jaccard is 0/0, not 1.0 — previously the constant sentinel signatures
    paired every empty doc with every other empty doc."""
    from web_template_forensics_spark.operators.dedup import minhash_lsh_pairs

    docs = [
        (1, ""),
        (2, "   \t  "),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5).toPandas()
    pairs = set(zip(out.id_a, out.id_b))
    assert pairs == {(3, 4)}, out


def test_knn_returns_k_rows_per_probe(spark):
    """k rows for each probe id on a line of points. Every probe proves in
    its level-3 disk; the sparse tests below cover the brute-force pass."""
    import pandas as pd

    from web_template_forensics_spark.operators.spatial_join import knn_join

    pdf = pd.DataFrame(
        {"id": range(20), "lat": [float(i) for i in range(20)], "lon": [2.0 * i for i in range(20)]}
    )
    df = spark.createDataFrame(pdf)
    probes = df.filter(F.col("id") % 5 == 0)
    out = knn_join(spark, probes, df, k=2, level=3).toPandas()
    assert len(out) == 4 * 2
    assert set(out.probe_id) == {0, 5, 10, 15}


def test_knn_all_points_one_cell(spark):
    """Adversarial density: every probe AND every corpus point lands in
    ONE level-3 cell (a 22.5-degree cell easily holds a 0.5-degree
    cluster). Round 1's disk-1 search sees ALL candidates at once; the
    coverage proof must still hold (kth_d2 < guarantee) and results must
    equal brute force exactly."""
    import pandas as pd

    from web_template_forensics_spark.operators.spatial_join import knn_join

    rng = np.random.RandomState(11)
    n = 60
    # 0.5-degree-wide cluster centered mid-cell (10.0, 10.0)
    pdf = pd.DataFrame(
        {
            "id": np.arange(n),
            "lat": 10.0 + rng.uniform(-0.25, 0.25, n),
            "lon": 10.0 + rng.uniform(-0.25, 0.25, n),
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        knn_join(spark, df, df, k=3, level=3)
        .toPandas()
        .sort_values(["probe_id", "rank"])
        .reset_index(drop=True)
    )
    lats, lons = pdf.lat.to_numpy(), pdf.lon.to_numpy()
    rows = []
    for pid in range(n):
        d2 = (lats[pid] - lats) ** 2 + (lons[pid] - lons) ** 2
        order = sorted((float(d2[j]), j) for j in range(n) if j != pid)[:3]
        rows.extend((pid, j, r, dd) for r, (dd, j) in enumerate(order, 1))
    exp = pd.DataFrame(rows, columns=["probe_id", "neighbor_id", "rank", "dist2"])
    assert len(out) == len(exp)
    assert (out.neighbor_id.to_numpy() == exp.neighbor_id.to_numpy()).all()
    assert np.array_equal(out.dist2.to_numpy(), exp.dist2.to_numpy())


def test_knn_level_one_folded_ring_matches_bruteforce(spark):
    """At level 1 the k=1 disk folds onto itself (ix - 1 and ix + 1 are the
    same column of the 2x2 grid), so every corpus cell appears twice in the
    raw ring. The join must still find each neighbour once and equal
    brute force exactly."""
    from web_template_forensics_spark.operators.spatial_join import knn_join

    rng = np.random.RandomState(12)
    n = 80
    pdf = pd.DataFrame(
        {"id": np.arange(n), "lat": rng.uniform(-85, 85, n), "lon": rng.uniform(-180, 179, n)}
    )
    df = spark.createDataFrame(pdf)
    out = (
        knn_join(spark, df, df, k=3, level=1)
        .toPandas()
        .sort_values(["probe_id", "rank"])
        .reset_index(drop=True)
    )
    lats, lons = pdf.lat.to_numpy(), pdf.lon.to_numpy()
    rows = []
    for pid in range(n):
        d2 = (lats[pid] - lats) ** 2 + (lons[pid] - lons) ** 2
        order = sorted((float(d2[j]), j) for j in range(n) if j != pid)[:3]
        rows.extend((pid, j, r, dd) for r, (dd, j) in enumerate(order, 1))
    exp = pd.DataFrame(rows, columns=["probe_id", "neighbor_id", "rank", "dist2"])
    assert len(out) == len(exp)
    assert (out.probe_id.to_numpy() == exp.probe_id.to_numpy()).all()
    assert (out.neighbor_id.to_numpy() == exp.neighbor_id.to_numpy()).all()
    assert np.array_equal(out.dist2.to_numpy(), exp.dist2.to_numpy())


def test_knn_probes_in_empty_space(spark):
    """Adversarial sparsity: probes sit in a region with ZERO corpus
    points within the disk-1 search, so every probe must fall
    through to the bounded brute-force pass — and still return the
    exact k nearest from the far-away corpus."""
    import pandas as pd

    from web_template_forensics_spark.operators.spatial_join import knn_join

    corpus_pdf = pd.DataFrame(
        {
            "id": range(30),
            "lat": [60.0 + 0.1 * i for i in range(30)],
            "lon": [120.0 + 0.1 * i for i in range(30)],
        }
    )
    probe_pdf = pd.DataFrame(
        {"id": [1000, 1001, 1002], "lat": [-60.0, -61.0, -62.0], "lon": [-120.0] * 3}
    )
    corpus = spark.createDataFrame(corpus_pdf)
    probes = spark.createDataFrame(probe_pdf)
    out = (
        knn_join(spark, probes, corpus, k=2, level=4)
        .toPandas()
        .sort_values(["probe_id", "rank"])
        .reset_index(drop=True)
    )
    # every probe's 2 nearest are corpus ids 0 then 1 (corpus marches
    # away northeast; probes are all far southwest)
    assert len(out) == 6
    assert set(out.probe_id) == {1000, 1001, 1002}
    for pid in (1000, 1001, 1002):
        got = out[out.probe_id == pid].neighbor_id.tolist()
        assert got == [0, 1], got


def _knn_bruteforce(pdf, probe_ids, k, exclude_self=True):
    """numpy brute force under the (dist2, neighbor_id) order, with the
    engine's dist2 arithmetic, so dist2 compares bitwise."""
    ids, lats, lons = pdf.id.to_numpy(), pdf.lat.to_numpy(), pdf.lon.to_numpy()
    rows = []
    for pid in probe_ids:
        i = int(np.flatnonzero(ids == pid)[0])
        d2 = (lats[i] - lats) * (lats[i] - lats) + (lons[i] - lons) * (lons[i] - lons)
        order = sorted(
            (float(d2[j]), int(ids[j])) for j in range(len(ids)) if not (exclude_self and ids[j] == pid)
        )[:k]
        rows.extend((pid, j, r, dd) for r, (dd, j) in enumerate(order, 1))
    return pd.DataFrame(rows, columns=["probe_id", "neighbor_id", "rank", "dist2"])


def _assert_knn_equal(got_df, exp):
    got = got_df.toPandas().sort_values(["probe_id", "rank"]).reset_index(drop=True)
    assert list(got.columns) == ["probe_id", "neighbor_id", "rank", "dist2"]
    assert len(got) == len(exp), (len(got), len(exp))
    for c in ("probe_id", "neighbor_id", "rank"):
        assert (got[c].to_numpy() == exp[c].to_numpy()).all(), c
    assert np.array_equal(got.dist2.to_numpy(), exp.dist2.to_numpy())


def test_knn_mixed_proven_and_brute_probes_match_bruteforce(spark):
    """One call where a dense cluster's probes prove their k nearest in the
    disk-1 round and isolated probes, far from everything, fall to the
    brute-force pass; the union of both branches equals brute force."""
    from web_template_forensics_spark.operators.spatial_join import knn_join

    rng = np.random.RandomState(21)
    n = 40
    cluster = pd.DataFrame(
        {"id": np.arange(n), "lat": 30.0 + rng.uniform(-1, 1, n), "lon": 40.0 + rng.uniform(-1, 1, n)}
    )
    isolated = pd.DataFrame(
        {"id": [100, 101, 102, 103], "lat": [-70.0, -40.0, 75.0, 0.0], "lon": [-150.0, 100.0, -20.0, 170.0]}
    )
    pdf = pd.concat([cluster, isolated], ignore_index=True)
    probe_ids = [0, 7, 13, 39, 100, 101, 102, 103]
    k, level = 3, 4
    exp = _knn_bruteforce(pdf, probe_ids, k)
    kth = exp[exp["rank"] == k].set_index("probe_id").dist2
    guarantee = (180.0 / (1 << level)) ** 2
    # the data really splits the probes between the two branches: a kth
    # neighbour nearer than one cell height proves, one farther cannot
    assert (kth.loc[[0, 7, 13, 39]] < guarantee).all()
    assert (kth.loc[[100, 101, 102, 103]] > guarantee).all()

    df = spark.createDataFrame(pdf)
    probes = df.filter(F.col("id").isin(probe_ids))
    _assert_knn_equal(knn_join(spark, probes, df, k=k, level=level), exp)


def test_knn_exclude_self_probe_alone_in_its_disk(spark):
    """A probe whose disk holds only itself: excluding self leaves no
    candidate in the ring round, yet the probe must reach the brute-force
    pass and get its k nearest; with exclude_self=False it ranks itself
    first at dist2 0."""
    from web_template_forensics_spark.operators.spatial_join import knn_join

    rng = np.random.RandomState(22)
    pdf = pd.DataFrame(
        {
            "id": np.arange(11),
            "lat": np.append(50.0 + rng.uniform(-2, 2, 10), -50.0),
            "lon": np.append(50.0 + rng.uniform(-2, 2, 10), -100.0),
        }
    )
    df = spark.createDataFrame(pdf)
    probes = df.filter(F.col("id") == 10)
    for exclude_self in (True, False):
        exp = _knn_bruteforce(pdf, [10], 3, exclude_self=exclude_self)
        got = knn_join(spark, probes, df, k=3, level=4, exclude_self=exclude_self)
        _assert_knn_equal(got, exp)
    assert exp.neighbor_id.iloc[0] == 10 and exp.dist2.iloc[0] == 0.0


def test_knn_k_at_least_corpus_size(spark):
    """k >= the corpus size: each probe gets every other corpus point (and
    itself too when exclude_self=False), fewer than k rows."""
    from web_template_forensics_spark.operators.spatial_join import knn_join

    pdf = pd.DataFrame(
        {"id": np.arange(6), "lat": [1.0, 1.5, 2.0, -3.0, 40.0, 1.25], "lon": [1.0, 1.0, 3.0, 0.5, -60.0, 1.75]}
    )
    df = spark.createDataFrame(pdf)
    for k, exclude_self in ((6, True), (10, True), (10, False)):
        exp = _knn_bruteforce(pdf, range(6), k, exclude_self=exclude_self)
        assert len(exp) == 6 * (5 if exclude_self else 6)
        _assert_knn_equal(knn_join(spark, df, df, k=k, level=4, exclude_self=exclude_self), exp)


def test_knn_null_coordinate_probe_is_kept(spark):
    """A probe with null coordinates has no ring cells; it still reaches
    the brute-force pass and gets k rows, all at a null dist2, in
    neighbor_id order."""
    from web_template_forensics_spark.operators.spatial_join import knn_join

    corpus = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(5), "lat": np.linspace(0, 4, 5), "lon": np.linspace(0, 4, 5)})
    )
    probes = spark.createDataFrame([(9, None, None)], "id long, lat double, lon double")
    got = knn_join(spark, probes, corpus, k=3, level=4).toPandas().sort_values("rank")
    assert got.neighbor_id.tolist() == [0, 1, 2]
    assert got["rank"].tolist() == [1, 2, 3]
    assert got.dist2.isna().all()


def test_knn_join_is_lazy(spark):
    """Building the kNN frame submits no job and persists nothing; the
    frame runs only when an action asks for it."""
    from web_template_forensics_spark.operators.spatial_join import knn_join

    sc = spark.sparkContext
    pdf = pd.DataFrame({"id": np.arange(50), "lat": np.linspace(-40, 40, 50), "lon": np.linspace(-90, 90, 50)})
    df = spark.createDataFrame(pdf)
    probes = df.filter(F.col("id") % 7 == 0)
    before = sc._jsc.getPersistentRDDs().size()
    group = "knn-join-is-lazy"
    sc.setJobGroup(group, "build the knn frame")
    try:
        out = knn_join(spark, probes, df, k=3, level=4)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc._jsc.getPersistentRDDs().size() == before
    _assert_knn_equal(out, _knn_bruteforce(pdf, range(0, 50, 7), 3))


def test_ngram_whitespace_and_simhash_exact_band(spark):
    """Leading/trailing whitespace must not corrupt grams (identical
    token content scores 1.0), whitespace-only docs never pair, and
    max_hamming=0 (one full-64-bit band) is legal."""
    from web_template_forensics_spark.operators.dedup import (
        ngram_jaccard_pairs,
        simhash_near_dup_pairs,
    )

    docs = [
        (1, "alpha bravo charlie delta", "en"),
        (2, "  alpha bravo charlie delta  ", "en"),
        (3, "   ", "en"),
        (4, " \t ", "en"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    out = ngram_jaccard_pairs(df, "doc_id", "text", "lang", threshold=0.01).toPandas()
    got = {(r.id_a, r.id_b): r.jaccard for r in out.itertuples()}
    assert got == {(1, 2): 1.0}, got  # padded twin identical; ws-only never pair

    sdf = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id long, text string"
    )
    exact = simhash_near_dup_pairs(sdf, "doc_id", "text", max_hamming=0).toPandas()
    assert set(zip(exact.id_a, exact.id_b)) == {(1, 2)}
    assert (exact.hamming == 0).all()
