"""The three benchmark workloads: seeded input generation, oracles, and the
timed calls of one pass.

Each workload is a class with a ``sizes`` table of parameters and three
methods:

- ``generate(params, seed, dirpath)`` writes the input parquet and the
  oracle answers once per (workload, size, seed); it runs before any Spark
  session exists, so the driver JVM never sees generation work.
- ``load(spark, dirpath)`` reads, caches and counts the input (set-up).
- ``run_pass(spark, data, rec, outdir, params)`` makes the timed calls
  through ``rec.call`` and checks every answer against the cached oracle.

The oracles come from ``tests/oracles.py``: plain dict/array code that
shares nothing with the Spark operators.
"""

from __future__ import annotations

import datetime
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from tests import oracles


def _write_edges(path: str, src: np.ndarray, dst: np.ndarray) -> None:
    pq.write_table(pa.table({"src": src.astype(np.int64), "dst": dst.astype(np.int64)}), path)


def _max_in_degree(dst: np.ndarray) -> int:
    return int(np.bincount(dst).max()) if len(dst) else 0


def _read_dir(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _pr_ok(got: dict[int, float], want: dict[int, float]) -> bool:
    if set(got) != set(want):
        return False
    keys = sorted(want)
    return bool(
        np.allclose([got[k] for k in keys], [want[k] for k in keys], rtol=1e-6, atol=1e-12)
    )


def _int_map(pdf: pd.DataFrame, key: str, val: str) -> dict[int, int]:
    return dict(zip(pdf[key].astype(int).tolist(), pdf[val].astype(int).tolist()))


def _page_index(url: str) -> int:
    return int(url.rsplit("/p", 1)[1])


def _vid_to_page(v_path: str) -> dict[int, int]:
    vdf = _read_dir(v_path)
    return dict(zip(vdf["vid"].astype(int), vdf["url"].map(_page_index)))


def _load_edges(spark, dirpath: str):
    e = spark.read.parquet(os.path.join(dirpath, "edges.parquet")).cache()
    e.count()
    return {"edges": e}


class CrawlIngest:
    """Pages → edges + vertices parquet, then durable PageRank over them."""

    name = "crawl-ingest"
    sizes = {
        "bench": {"pages": 1500, "m": 8, "pr_iters": 4},
        "smoke": {"pages": 120, "m": 4, "pr_iters": 2},
    }

    def generate(self, p: dict, seed: int, dirpath: str) -> dict:
        # the rows synth_pages(spark, n, m, seed) yields, built from the
        # per-page functions and constants it uses, without a Spark session
        from parrsb_spark.sources.extract import extract_text_py
        from parrsb_spark.sources.pages import _EPOCH, _LANGS, page_html, page_links, page_url

        n, m = p["pages"], p["m"]
        htmls = [page_html(i, n, m, seed) for i in range(n)]
        pages = pa.table(
            {
                "url": [page_url(i) for i in range(n)],
                "warc_ts": pa.array(
                    [_EPOCH + datetime.timedelta(seconds=i) for i in range(n)],
                    pa.timestamp("us", tz="UTC"),
                ),
                "html": pa.array(htmls, pa.binary()),
                "text": [extract_text_py(h) for h in htmls],
                "lang": [_LANGS[i % 3] for i in range(n)],
            }
        )
        pq.write_table(pages, os.path.join(dirpath, "pages.parquet"))
        # oracle: page-index link pairs and PageRank keyed by page index
        links = sorted(
            {(i, _page_index(u)) for i in range(n) for u in page_links(i, n, m, seed)}
        )
        pr = oracles.pagerank_np(links, iters=p["pr_iters"])
        with open(os.path.join(dirpath, "oracle.json"), "w") as f:
            json.dump({"pages": n, "links": links, "pr": sorted(pr.items())}, f)
        dst = np.array([t for _, t in links], dtype=np.int64)
        return {
            "pages": n,
            "edges": len(links),
            "vertices": n,
            "max_in_degree": _max_in_degree(dst),
        }

    def load(self, spark, dirpath: str) -> dict:
        pages = spark.read.parquet(os.path.join(dirpath, "pages.parquet")).cache()
        pages.count()
        with open(os.path.join(dirpath, "oracle.json")) as f:
            o = json.load(f)
        return {
            "pages": pages,
            "links": {tuple(x) for x in o["links"]},
            "pr": {int(k): v for k, v in o["pr"]},
            "n": o["pages"],
        }

    def run_pass(self, spark, data: dict, rec, outdir: str, p: dict) -> None:
        from parrsb_spark.plans.lineage import pagerank_resumable
        from parrsb_spark.sources.edges import edges_from_pages

        e_path, v_path = os.path.join(outdir, "edges"), os.path.join(outdir, "vertices")
        ckpt = os.path.join(outdir, "pagerank_ckpt")

        def ingest():
            edges, vertices = edges_from_pages(data["pages"])
            edges.write.parquet(e_path)
            vertices.write.parquet(v_path)

        def check_ingest(_):
            idx = _vid_to_page(v_path)
            edf = _read_dir(e_path)
            pairs = {(idx[s], idx[d]) for s, d in zip(edf["src"].astype(int), edf["dst"].astype(int))}
            return (
                len(idx) == data["n"] == len(set(idx.values()))
                and len(pairs) == len(edf) == len(data["links"])
                and pairs == data["links"]
            )

        ok = rec.call("sources", "edges_from_pages", ingest, check_ingest, files=[e_path, v_path])
        if not ok:
            rec.skip("plans", "pagerank_resumable")
            return

        def check_pr(pdf):
            idx = _vid_to_page(v_path)
            got = {idx[int(v)]: float(r) for v, r in zip(pdf["vid"], pdf["pr"])}
            return _pr_ok(got, data["pr"])

        rec.call(
            "plans",
            "pagerank_resumable",
            lambda: pagerank_resumable(
                spark, spark.read.parquet(e_path), ckpt, total_iters=p["pr_iters"], snapshot_every=2
            ).toPandas(),
            check_pr,
            files=[ckpt],
        )


class PowerlawAnalytics:
    """In-memory analytics on a hub-skewed copy-model web graph."""

    name = "powerlaw-analytics"
    sizes = {
        "bench": {"n": 1500, "m": 8, "pr_iters": 6, "lp_iters": 3},
        "smoke": {"n": 150, "m": 4, "pr_iters": 3, "lp_iters": 2},
    }

    def generate(self, p: dict, seed: int, dirpath: str) -> dict:
        from parrsb_spark.sources.synthgraph import powerlaw_edges_np

        e = powerlaw_edges_np(p["n"], m=p["m"], seed=seed)
        _write_edges(os.path.join(dirpath, "edges.parquet"), e[:, 0], e[:, 1])
        el = [(int(u), int(v)) for u, v in e]
        pr = oracles.pagerank_np(el, iters=p["pr_iters"])
        cc = oracles.components_np(el)
        lp = oracles.labelprop_np(el, n_iter=p["lp_iters"])
        tri = sum(oracles.triangles_np(el).values()) // 3
        with open(os.path.join(dirpath, "oracle.json"), "w") as f:
            json.dump({"pr": sorted(pr.items()), "cc": sorted(cc.items()), "lp": sorted(lp.items()), "tri": tri}, f)
        return {
            "edges": len(el),
            "vertices": len(pr),
            "max_in_degree": _max_in_degree(e[:, 1]),
            "triangles": tri,
        }

    def load(self, spark, dirpath: str) -> dict:
        data = _load_edges(spark, dirpath)
        with open(os.path.join(dirpath, "oracle.json")) as f:
            o = json.load(f)
        data["pr"] = {int(k): v for k, v in o["pr"]}
        data["cc"] = {int(k): int(v) for k, v in o["cc"]}
        data["lp"] = {int(k): int(v) for k, v in o["lp"]}
        data["tri"] = int(o["tri"])
        return data

    def run_pass(self, spark, data: dict, rec, outdir: str, p: dict) -> None:
        from parrsb_spark.operators import (
            connected_components,
            label_propagation,
            pagerank,
            triangle_total,
        )

        e = data["edges"]
        rec.call(
            "operators",
            "pagerank",
            lambda: pagerank(e, fixed_iters=p["pr_iters"]).toPandas(),
            lambda pdf: _pr_ok({int(v): float(r) for v, r in zip(pdf["vid"], pdf["pr"])}, data["pr"]),
        )
        rec.call(
            "operators",
            "connected_components",
            lambda: connected_components(e).toPandas(),
            lambda pdf: _int_map(pdf, "vid", "comp") == data["cc"],
        )
        rec.call(
            "operators",
            "label_propagation",
            lambda: label_propagation(e, n_iter=p["lp_iters"]).toPandas(),
            lambda pdf: _int_map(pdf, "vid", "label") == data["lp"],
        )
        rec.call(
            "operators",
            "triangle_total",
            lambda: triangle_total(e),
            lambda t: int(t) == data["tri"],
        )


class MeshPartition:
    """parRSB's native input: a hex mesh with seed-permuted vertex ids."""

    name = "mesh-partition"
    sizes = {
        "bench": {"side": 5, "k": 2, "rsb_max_iter": 5},
        "smoke": {"side": 4, "k": 2, "rsb_max_iter": 6},
    }

    def generate(self, p: dict, seed: int, dirpath: str) -> dict:
        from parrsb_spark import graphs

        s = p["side"]
        edges, _ = graphs.grid3d(s, s, s)
        n = s * s * s
        perm = np.random.default_rng(seed).permutation(n) + 1
        # the smallest id goes to a corner, so min-label CC takes one round
        # per unit of diameter on every seed, not the eccentricity of a
        # seed-chosen vertex
        corner = int(np.flatnonzero(perm == 1)[0])
        perm[corner], perm[0] = perm[0], 1
        e = np.array(edges, dtype=np.int64)
        src, dst = perm[e[:, 0] - 1], perm[e[:, 1] - 1]
        _write_edges(os.path.join(dirpath, "edges.parquet"), src, dst)
        cc = oracles.components_np(list(zip(src.tolist(), dst.tolist())))
        with open(os.path.join(dirpath, "oracle.json"), "w") as f:
            json.dump({"cc": sorted(cc.items())}, f)
        return {
            "edges": len(e),
            "vertices": n,
            "max_in_degree": _max_in_degree(dst),
            "diameter": 3 * (s - 1),
        }

    def load(self, spark, dirpath: str) -> dict:
        data = _load_edges(spark, dirpath)
        with open(os.path.join(dirpath, "oracle.json")) as f:
            data["cc"] = {int(k): int(v) for k, v in json.load(f)["cc"]}
        return data

    def run_pass(self, spark, data: dict, rec, outdir: str, p: dict) -> None:
        from parrsb_spark.config import EngineOptions
        from parrsb_spark.operators import connected_components, partition_sizes, rsb_partition
        from parrsb_spark.operators.stats import quality_gate

        e = data["edges"]
        ckpt = os.path.join(outdir, "rsb_ckpt")
        opts = EngineOptions(rsb_max_iter=p["rsb_max_iter"], rsb_max_passes=1, rsb_tol=1e-4, verbose=0)
        held = {}

        def partition():
            held["parts"] = rsb_partition(e, p["k"], opts=opts, ckpt_dir=ckpt)
            return held["parts"].toPandas()

        def check_parts(pdf):
            sizes = np.bincount(pdf["part"].astype(int), minlength=p["k"])
            return (
                len(pdf) == len(data["cc"])
                and set(pdf["vid"].astype(int)) == set(data["cc"])
                and pdf["part"].between(0, p["k"] - 1).all()
                and len(sizes) == p["k"]
                and sizes.max() - sizes.min() <= 1
            )

        if not rec.call("operators", "rsb_partition", partition, check_parts, files=[ckpt]):
            rec.skip("operators", "quality_gate")
        else:
            rec.call(
                "operators",
                "quality_gate",
                lambda: (
                    quality_gate(e, held["parts"], p["k"]),
                    sorted(r["n"] for r in partition_sizes(held["parts"]).collect()),
                ),
                lambda r: bool(r[0]["ok"]) and sum(r[1]) == len(data["cc"]) and r[1][-1] - r[1][0] <= 1,
            )
        rec.call(
            "operators",
            "connected_components",
            lambda: connected_components(e).toPandas(),
            lambda pdf: _int_map(pdf, "vid", "comp") == data["cc"],
        )


WORKLOADS = {w.name: w for w in (CrawlIngest(), PowerlawAnalytics(), MeshPartition())}
