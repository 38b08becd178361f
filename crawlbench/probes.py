"""Layer probes of a traced run: seen-filter health, single-thread
extraction kernel speed, and the crawl's table footprint."""

from __future__ import annotations

import os
import time

import numpy as np

from webcrawl_spark.frontier.bloom import BloomShard
from webcrawl_spark.frontier.crawl import TABLES
from webcrawl_spark.frontier.cuckoo import shard_from_bytes
from webcrawl_spark.kernels.scrape import markdown_for_page

FP_KEYS = 1_000_000
KERNEL_PAGES = 300


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for name in files:
            n_bytes += os.path.getsize(os.path.join(root, name))
            n_files += 1
    return n_bytes, n_files


def bloom_health(crawl, seed: int) -> dict[str, float]:
    """Decode the latest committed ``bloom_shards`` blobs and measure them:
    fill ratio, false-positive rate on random absent keys (each key probes
    its own bucket's shard, as a candidate does), and single-thread
    add/probe throughput of a shard of the same size."""
    io = crawl.io
    latest = io.latest_round("bloom_shards")
    blooms = [shard_from_bytes(bytes(r["blob"])) for r in
              io.read_round("bloom_shards", latest).select("blob").collect()]
    rng = np.random.default_rng(seed)
    keys = rng.integers(0, 2**63, size=FP_KEYS, dtype=np.int64).view(np.uint64)
    owner = keys % np.uint64(len(blooms))
    hits = sum(int(s.contains(keys[owner == i]).sum())
               for i, s in enumerate(blooms))
    set_bits = sum(int(np.unpackbits(s.bits).sum()) for s in blooms)
    m, k = blooms[0].m, blooms[0].k
    fresh = BloomShard(m, k)
    t0 = time.perf_counter()
    fresh.add(keys)
    t1 = time.perf_counter()
    fresh.contains(keys)
    t2 = time.perf_counter()
    return {
        "bloom.shards": len(blooms),
        "bloom.bits_per_shard": m,
        "bloom.fill_ratio": set_bits / sum(s.m for s in blooms),
        "bloom.fp_rate": hits / FP_KEYS,
        "bloom.fp_rate_configured": crawl.engine.bloom_fp_rate,
        "bloom.add_mkeys_per_s": FP_KEYS / 1e6 / (t1 - t0),
        "bloom.probe_mkeys_per_s": FP_KEYS / 1e6 / (t2 - t1),
    }


def extract_kernel(pages: list[tuple[str, str]]) -> dict[str, float]:
    """Single-thread ``markdown_for_page`` over a seeded sample of the
    workload's corpus: kernel cost without Spark or Arrow."""
    sample = pages[:KERNEL_PAGES]
    n_bytes = sum(len(h.encode()) for _, h in sample)
    t0 = time.perf_counter()
    for url, html in sample:
        markdown_for_page(html, url)
    dt = time.perf_counter() - t0
    return {"kernels.extract.pages_per_s": len(sample) / dt,
            "kernels.extract.mb_per_s": n_bytes / 1e6 / dt}


def table_footprint(workdir: str) -> dict[str, float]:
    """Bytes and files of each crawl table, and all files of the state."""
    out = {}
    for table in TABLES:
        n_bytes, n_files = dir_size(os.path.join(workdir, table))
        out[f"tableio.{table}.bytes"] = n_bytes
        out[f"tableio.{table}.files"] = n_files
    out["tableio.state_files"] = dir_size(workdir)[1]
    return out
