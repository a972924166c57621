"""Deterministic synthetic Common-Crawl-style pages source.

Schema per BASELINE.json ``input_hint``:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

``text`` is the golden extracted text computed AT GENERATION TIME by the
pure-Python oracle (:mod:`..oracle.html_oracle`) — the engine's pandas-UDF
extraction must reproduce it byte-identically per url.

Design constraints honored here:
  * fully seeded — every row is a pure function of (seed, row_index) via a
    splitmix64 counter hash, so generation is distributable over any
    partitioning (``spark.range(n).mapInPandas``) with identical output;
    no wall-clock, no RNG state.
  * hot-key skew built in: ~30% of rows share one ccTLD (``.de``) so the
    cell/tile aggregations exercise the salting + AQE skew path.
  * ~1 in 13 rows duplicates the previous row's url with a later warc_ts
    (latest-crawl dedup fixtures).
  * a subset of pages embeds ``<meta name="geo.position" content="LAT;LON">``
    geo metadata that overrides the TLD-anchor geocode.
  * HTML stresses the oracle: entities, comments, script/style CDATA,
    void elements, body-present/absent, malformed fragments, nested lists,
    tailwind-ish class attributes.

The geocode contract (used by tests and the pipeline): a page's (lat, lon)
is recomputable from its url + html alone via :func:`geocode_host` and the
meta override — all arithmetic is integer-derived IEEE ops, so numpy /
Spark / DuckDB agree bitwise.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from ..oracle.html_oracle import extract_text

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

# tld -> (anchor_lat, anchor_lon, lang). Weights below make .de the hot key.
TLD_ANCHORS: dict[str, tuple[float, float, str]] = {
    "de": (51.0, 10.0, "de"),
    "fr": (47.0, 2.0, "fr"),
    "jp": (36.0, 138.0, "ja"),
    "uk": (54.0, -2.0, "en"),
    "in": (21.0, 78.0, "en"),
    "br": (-10.0, -52.0, "pt"),
    "au": (-25.0, 134.0, "en"),
    "us": (39.0, -98.0, "en"),
    "cn": (35.0, 104.0, "zh"),
    "es": (40.0, -4.0, "es"),
    "fj": (-17.5, 179.0, "en"),   # near the antimeridian on purpose
    "nz": (-41.0, 174.0, "en"),
}
_TLDS = list(TLD_ANCHORS)
# 30% hot cluster on .de; rest spread (indices into _TLDS, len 20)
_TLD_DRAW = [0, 0, 0, 0, 0, 0, 1, 2, 3, 4, 5, 6, 7, 7, 8, 9, 10, 11, 1, 3]


def tld_draw_for_hot_frac(hot_frac: float) -> list[int]:
    """Amplified-skew draw table: ``hot_frac`` of the 20 slots hit the hot
    .de key, the rest cycle over the other TLDs. Used by the skew legs of
    the scaling protocol and the M5 salting-bound test."""
    n = len(_TLD_DRAW)
    k = max(0, min(n, round(hot_frac * n)))
    rest = list(range(1, len(_TLDS)))
    return [0] * k + [rest[j % len(rest)] for j in range(n - k)]

_VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu berlin tokyo paris lima cairo quito oslo bern"
).split()

_TW_CLASSES = (
    "flex grid p-4 m-2 text-lg text-sm bg-red-500 bg-blue-100 items-center "
    "justify-between rounded shadow hover:bg-gray-50 w-full h-screen"
).split()


def splitmix64(x) -> np.ndarray:
    """Counter-based hash: uint64 in, uint64 out (SplitMix64 finalizer)."""
    with np.errstate(over="ignore"):  # uint64 wraparound is the point
        z = np.asarray(x, dtype=np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def geocode_host(host_id: int, tld: str) -> tuple[float, float]:
    """TLD-anchor geocode: deterministic jitter around the anchor.

    Pure integer-derived IEEE arithmetic — recomputable identically in
    numpy, Spark SQL and DuckDB SQL.
    """
    lat0, lon0, _ = TLD_ANCHORS[tld]
    h = int(splitmix64(np.uint64(host_id))[()])
    lat = lat0 + ((h % 4001) - 2000) / 1000.0
    lon = lon0 + ((h // 4096) % 8001 - 4000) / 1000.0
    # keep strictly inside bounds (anchors are well away from the poles)
    if lon >= 180.0:
        lon -= 360.0
    if lon < -180.0:
        lon += 360.0
    return lat, lon


def _meta_coords(h: int) -> tuple[float, float]:
    """Geo-metadata override coords; golden = float(parsed decimal string)."""
    lat = float(f"{(h % 160001) / 1000.0 - 80.0:.6f}")
    lon = float(f"{((h // 1024) % 359001) / 1000.0 - 179.5:.6f}")
    return lat, lon


def _words(h: int, n: int) -> list[str]:
    return [_VOCAB[(h >> (7 * (i % 8)) ^ (i * 2654435761)) % len(_VOCAB)] for i in range(n)]


def _tw(h: int, n: int) -> str:
    return " ".join(_TW_CLASSES[(h >> (5 * (i % 11))) % len(_TW_CLASSES)] for i in range(n))


def _build_html(
    i: int, h: int, tld: str, meta: tuple[float, float] | None, rich: int = 0
) -> str:
    """Assemble one synthetic page. Variant chosen by hash bits.

    ``rich > 0`` appends that many extra content sections (~500 B each) so
    bench corpora can approximate real crawl page sizes (KBs, not bytes);
    small pages keep unit tests fast.
    """
    w = _words(h, 14)
    variant = h % 8
    title = " ".join(w[:3])
    meta_tag = (
        f'<meta name="geo.position" content="{meta[0]:.6f};{meta[1]:.6f}">' if meta else ""
    )
    body_inner = (
        f'<h1 class="{_tw(h, 3)}">{w[0].capitalize()} &amp; {w[1]}</h1>'
        f"<!-- crawl marker {h % 997} -->"
        f'<div id="c{i}" class="{_tw(h >> 3, 4)}">'
        f"<p>{' '.join(w[2:7])}</p>"
        f"<ul><li>{w[7]}</li><li>{w[8]} &lt;tag&gt;</li></ul>"
        f'<img src="/{w[9]}.png" alt="{w[9]}"><br>'
        f"</div>"
        f"<script>var k_{i % 100} = {h % 1000};</script>"
        f"<style>.c{i % 50} {{ color: #ff{h % 10}; }}</style>"
        f"<p>{' '.join(w[10:13])}</p>"
    )
    if rich:
        sections = []
        for s in range(rich):
            hs = (h >> (s % 48)) | (s * 2654435761)
            ws = _words(hs, 24)
            sections.append(
                f'<section id="s{i}_{s}" class="{_tw(hs, 3)}">'
                f"<h2>{ws[0]} {ws[1]}</h2>"
                f"<p>{' '.join(ws[2:12])}</p>"
                f"<ul>" + "".join(f"<li>{t}</li>" for t in ws[12:18]) + "</ul>"
                f'<table><tr><td>{ws[18]}</td><td>{ws[19]}</td></tr>'
                f"<tr><td>{ws[20]} &amp; {ws[21]}</td><td>{ws[22]}</td></tr></table>"
                f"<!-- sec {s} marker {hs % 991} -->"
                f"</section>"
            )
        body_inner += "".join(sections)
    if variant == 0:
        # no <body> tag at all -> document-rooted parse
        return f"<html><head><title>{title}</title>{meta_tag}</head>{body_inner}</html>"
    if variant == 1:
        # malformed: unclosed div + stray end tag
        return (
            f"<html><head>{meta_tag}</head><body><div><p>{' '.join(w[:4])}</p>"
            f"</span>{body_inner}</body></html>"
        )
    if variant == 2:
        # doctype + nested tables
        return (
            f"<!DOCTYPE html><html><head><title>{title}</title>{meta_tag}</head>"
            f"<body><table><tr><td>{w[0]}</td><td><table><tr><td>{w[1]}</td></tr>"
            f"</table></td></tr></table>{body_inner}</body></html>"
        )
    return (
        f"<!DOCTYPE html><html><head><title>{title}</title>{meta_tag}</head>"
        f"<body>{body_inner}</body></html>"
    )


def gen_pages_pdf(
    start: int,
    count: int,
    seed: int = 42,
    with_gold: bool = False,
    rich: int = 0,
    hot_frac: float | None = None,
) -> pd.DataFrame:
    """Generate rows [start, start+count) as a pandas DataFrame.

    ``hot_frac`` overrides the default ~30% hot-TLD skew with an
    amplified draw (see tld_draw_for_hot_frac) — the skew-leg corpora."""
    draw = _TLD_DRAW if hot_frac is None else tld_draw_for_hot_frac(hot_frac)
    rows = []
    base_ts = np.datetime64("2025-01-01T00:00:00")
    for i in range(start, start + count):
        h = int(splitmix64(np.uint64(seed) * np.uint64(0x100000001) + np.uint64(i))[()])
        is_dup = (i % 13 == 7) and i > 0
        key = i - 1 if is_dup else i
        hk = int(splitmix64(np.uint64(seed) * np.uint64(0x100000001) + np.uint64(key))[()])
        tld = _TLDS[draw[hk % len(draw)]]
        host_id = (hk % 100000) if key % 5 else (hk % 500)  # mix of rare + common hosts
        url = f"https://h{host_id}.example.{tld}/p/{key}"
        has_meta = (hk % 10) == 3
        meta = _meta_coords(hk) if has_meta else None
        html = _build_html(key, hk, tld, meta, rich=rich)
        # ts derives from KEY so a dup row's base matches its original's,
        # plus a strictly positive re-crawl offset — the old i-based
        # modulus could wrap between i-1 and i, giving the "re-crawl" an
        # EARLIER ts (~once per 4300 rows) and inverting latest-crawl
        # fixture semantics
        ts = base_ts + np.timedelta64(int((key * 7919) % 2_592_000), "s")
        if is_dup:
            ts = ts + np.timedelta64(3600, "s")
        lang = TLD_ANCHORS[tld][2]
        row = {
            "url": url,
            "warc_ts": pd.Timestamp(ts),
            "html": html.encode("utf-8"),
            "text": extract_text(html),
            "lang": lang,
        }
        if with_gold:
            if meta is not None:
                row["gold_lat"], row["gold_lon"] = meta
            else:
                row["gold_lat"], row["gold_lon"] = geocode_host(host_id, tld)
            row["gold_tld"] = tld
            row["gold_host_id"] = host_id
        rows.append(row)
    return pd.DataFrame(rows)


def build_pages_df(
    spark,
    n_rows: int,
    seed: int = 42,
    partitions: int | None = None,
    rich: int = 0,
    hot_frac: float | None = None,
):
    """Distributed generation: each task generates its own id slice."""
    parts = partitions or spark.sparkContext.defaultParallelism
    base = spark.range(0, n_rows, 1, parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids) == 0:
                continue
            start, stop = int(ids[0]), int(ids[-1])
            if np.array_equal(ids, np.arange(start, stop + 1)):
                # spark.range slices are contiguous — single-shot fast path
                yield gen_pages_pdf(start, stop - start + 1, seed, rich=rich, hot_frac=hot_frac)
            else:
                frames = [
                    gen_pages_pdf(int(i), 1, seed, rich=rich, hot_frac=hot_frac) for i in ids
                ]
                yield pd.concat(frames, ignore_index=True)

    return base.mapInPandas(gen, schema=PAGES_SCHEMA)
