"""The benchmark's workloads: seeded inputs, a timed pass, output checks.

Every workload calls only the program's public functions. A pass returns
a ``Pass`` record; ``check`` compares its output with the reference
semantics and returns one (name, ok, detail) row per check.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re
import shutil
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from webcrawl_spark.datagen import build_site, render_page_html
from webcrawl_spark.frontier.crawl import EngineConfig, SparkCrawl
from webcrawl_spark.frontier.oracle import CrawlConfig, round_crawl
from webcrawl_spark.kernels.scrape import ScrapeOptions, markdown_for_page
from webcrawl_spark.operators.corpus import (
    chunk_documents, remove_duplicate_passages,
)
from webcrawl_spark.operators.dedup import (
    exact_dedup, minhash_lsh_dedup, minhash_signatures,
)
from webcrawl_spark.operators.scrape import scrape
from webcrawl_spark.sources.warc import build_warc_bytes, warc_pages

from . import probes
from .probes import dir_size

MARKDOWN_SAMPLE = 20          # URLs per pass whose markdown is re-extracted
WARM_UP_PAGES = 8
GRAPH_SEED = 13               # the seed of bench.py's crawl_round_job site
WARC_FILES = 8
MINHASH_THRESHOLD = 0.85


def write_warc(html: dict[str, str], urls: list[str], out_dir: str,
               n_files: int) -> None:
    """Status-200 captures of ``urls``, dealt round-robin into ``n_files``
    gzip-member WARC files."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    ts = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    for i in range(n_files):
        recs = [{"url": u, "warc_ts": ts, "html": html[u].encode(),
                 "http_status": 200, "content_type": "text/html"}
                for u in urls[i::n_files]]
        with open(os.path.join(out_dir, f"part-{i}.warc.gz"), "wb") as f:
            f.write(build_warc_bytes(recs, gzip_members=True))


@dataclass
class Pass:
    wall_s: float = 0.0
    pages: int = 0                     # status-200 fetches
    state_bytes: int = 0
    round_walls: list[float] = field(default_factory=list)
    workdir: str = ""
    crawl: SparkCrawl | None = None    # crawls: the (restarted) crawl object
    stages: dict = field(default_factory=dict)   # operator outputs, pinned


class CrawlWorkload:
    """A crawl over a seeded synthetic site; subclasses add checks."""

    name = ""
    site_kw: dict = {}
    budget = 0
    threshold = 5000
    restart_after = 3           # round calls before the crawl is rebuilt

    def __init__(self, seed: int, nproc: int, tracer) -> None:
        self.seed = seed
        self.nproc = nproc
        self.tracer = tracer

    def build_inputs(self, spark, workdir: str) -> None:
        self.spark = spark
        # The link graph comes from a fixed seed, so every run crawls the
        # same rounds (with another graph seed a late cross-host link can
        # add a round, which moves every per-page metric by ~15 %);
        # --seed varies the page content.
        site = build_site(GRAPH_SEED, **self.site_kw)
        site.seed = self.seed
        self.html = {u: render_page_html(site, u) for u in site.urls()}
        rows = [(u, h.encode()) for u, h in self.html.items()]
        self.pages = (spark.createDataFrame(rows, "url string, html binary")
                      .repartition(self.nproc).cache())
        self.pages.count()
        self.cfg = self._config(site)
        self.engine = self._engine()

    def _config(self, site) -> CrawlConfig:
        return CrawlConfig(
            seed_url=f"https://{site.hosts[0]}/", limit=None, max_depth=3,
            allow_backward_crawling=True, allow_external_content_links=True,
            host_budget=self.budget)

    def _engine(self) -> EngineConfig:
        return EngineConfig(num_buckets=self.nproc,
                            small_round_threshold=self.threshold)

    def sample_pages(self) -> list[tuple[str, str]]:
        """(url, html) of the corpus in a seeded order."""
        urls = sorted(self.html)
        random.Random(self.seed).shuffle(urls)
        return [(u, self.html[u]) for u in urls]

    def warm_up(self) -> None:
        """First Python-UDF call: starts the workers and imports kernels."""
        rows = [(u, h.encode()) for u, h in self.sample_pages()[:WARM_UP_PAGES]]
        df = self.spark.createDataFrame(rows, "url string, html binary")
        scrape(df, ScrapeOptions(formats=("markdown",))) \
            .select("markdown").collect()

    def _crawl(self, workdir):
        return SparkCrawl(self.spark, self.pages, self.cfg, workdir,
                          engine=self.engine)

    def _crawl_rounds(self, workdir: str) -> Pass:
        """Round calls until the crawl is done; the crawl object is rebuilt
        on the same workdir after ``restart_after`` calls."""
        tr = self.tracer
        p = Pass(workdir=workdir)
        crawl = self._crawl(workdir)
        calls = 0
        with tr.span("frontier.crawl") as top:
            while True:
                if calls == self.restart_after:
                    with tr.span("frontier.resume"):
                        crawl = self._crawl(workdir)
                        crawl.run(max_rounds=0)
                with tr.span("frontier.round", call=calls) as rs:
                    executed = crawl.run(max_rounds=1)
                p.round_walls.append(rs.wall)
                calls += 1
                if executed == 0:
                    break
        p.wall_s = top.wall
        p.crawl = crawl
        return p

    def run_pass(self, workdir: str) -> Pass:
        p = self._crawl_rounds(workdir)
        p.pages = p.crawl.fetch_log().filter(F.col("status") == 200).count()
        p.state_bytes = dir_size(workdir)[0]
        return p

    def round_shape(self, p: Pass) -> dict[int, int]:
        """Candidate links per round (the count that picks the driver-fast
        or the distributed admission path)."""
        rows = (p.crawl.results().groupBy("round")
                .agg(F.sum(F.size("links")).alias("n")).collect())
        return {int(r["round"]): int(r["n"] or 0) for r in rows}

    def _read_warc(self, warc_dir: str):
        """``warc_pages`` over the directory's files, pinned."""
        with self.tracer.span("sources.warc"):
            return warc_pages(self.spark, os.path.join(warc_dir, "*.warc.gz")
                              ).localCheckpoint(eager=True)

    def _curate(self, p: Pass, out_dir: str) -> dict:
        """The crawled markdown through the corpus operators, each output
        pinned as ``scripts/pipeline_probe.py`` does; chunks go to parquet."""
        tr = self.tracer
        st = {"crawl": p.crawl.results().filter(F.col("status") == 200)
              .select(F.col("url").alias("doc_id"),
                      F.col("markdown").alias("text"))}
        with tr.span("operators.exact_dedup"):
            st["exact_dedup"] = exact_dedup(
                st["crawl"], id_col="doc_id").localCheckpoint(eager=True)
        with tr.span("operators.minhash_lsh_dedup"):
            st["minhash_lsh_dedup"] = minhash_lsh_dedup(
                st["exact_dedup"], id_col="doc_id",
                threshold=MINHASH_THRESHOLD).localCheckpoint(eager=True)
        with tr.span("operators.remove_duplicate_passages"):
            st["remove_duplicate_passages"] = remove_duplicate_passages(
                st["minhash_lsh_dedup"]).localCheckpoint(eager=True)
        with tr.span("operators.chunk_documents"):
            chunk_documents(st["remove_duplicate_passages"],
                            text_col="clean_text") \
                .write.mode("overwrite").parquet(out_dir)
        return st

    def probe(self, p: Pass) -> dict:
        """Traced runs: layer numbers measured after the timed part."""
        warc_s = self.tracer.named("sources.warc")[-1].wall
        layer = {"warc.wall_s": warc_s,
                 "warc.mb_per_s": dir_size(self.warc_dir)[0] / 1e6 / warc_s}
        layer.update(probes.extract_kernel(self.sample_pages()))
        layer.update(probes.bloom_health(p.crawl, self.seed))
        layer.update(probes.table_footprint(p.crawl.io.root))
        layer["frontier.round.distributed"] = sum(
            n >= self.threshold for n in self.round_shape(p).values())
        recs = p.crawl.metrics().select("fetched", "new_urls").collect()
        layer["frontier.round.fetched.sum"] = sum(r["fetched"] for r in recs)
        layer["frontier.round.new_urls.sum"] = sum(r["new_urls"] for r in recs)
        return {"layer": layer,
                "rows": {k: df.count() for k, df in p.stages.items()}}

    def _markdown_check(self, p: Pass):
        fetched = [r["url"] for r in p.crawl.fetch_log()
                   .filter(F.col("status") == 200).select("url").collect()]
        urls = random.Random(self.seed + 1).sample(
            sorted(fetched), min(MARKDOWN_SAMPLE, len(fetched)))
        got = {r["url"]: r["markdown"] for r in p.crawl.results()
               .filter(F.col("url").isin(urls)).select("url", "markdown")
               .collect()}
        bad = [u for u in urls
               if got.get(u) != markdown_for_page(self.html[u], u)]
        return ("markdown_byte_identical", bool(urls) and not bad,
                f"{len(urls) - len(bad)}/{len(urls)} sampled pages identical")

    def describe(self) -> dict:
        return {"site": self.site_kw, "pages_in_corpus": len(self.html),
                "host_budget": self.budget, "max_depth": 3,
                "small_round_threshold": self.threshold,
                "num_buckets": self.nproc,
                "restart_after_round_calls": self.restart_after}


class CrawlPolite(CrawlWorkload):
    name = "crawl_polite"
    site_kw = dict(n_hosts=12, pages_per_host=60, n_hot_hosts=2, hot_factor=3)
    budget = 64

    def check(self, p: Pass):
        oracle = round_crawl(self.html.get, self.cfg)
        order = p.crawl.fetch_order()
        seen = {r["url"] for r in p.crawl.frontier().select("url").collect()}
        shape = self.round_shape(p)
        big = [r for r, n in shape.items() if n >= self.threshold]
        return [
            ("fetch_order_equals_oracle", order == oracle.fetch_order,
             f"{len(order)} fetches vs oracle {len(oracle.fetch_order)}"),
            ("seen_set_equals_oracle", seen == set(oracle.discovered),
             f"{len(seen)} seen vs oracle {len(oracle.discovered)}"),
            self._markdown_check(p),
            ("all_rounds_driver_fast", not big,
             f"rounds over threshold: {big}"),
        ]

    def probe(self, p: Pass) -> dict:
        """The crawl reads a cached DataFrame and curates nothing, so the
        sources and operators layers are measured here, after the timed
        part: the corpus round-trips through WARC and the crawl's pages run
        through the same operator chain as ``wide_curate``."""
        self.warc_dir = p.workdir + "_warc"
        write_warc(self.html, sorted(self.html), self.warc_dir, WARC_FILES)
        self._read_warc(self.warc_dir)
        out_dir = p.workdir + "_chunks"
        p.stages = self._curate(p, out_dir)
        p.stages["chunk_documents"] = self.spark.read.parquet(out_dir)
        return super().probe(p)


# --- wide_curate -----------------------------------------------------------

_COPY_WORDS = ("syndicated", "copy", "reposted", "via", "partner")


def reference_exact_dedup(docs: dict[str, str]) -> set[str]:
    """Lowest id per whitespace- and case-normalized text."""
    best: dict[str, str] = {}
    for doc_id in sorted(docs):
        norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", docs[doc_id].lower())
        best.setdefault(norm.strip(" "), doc_id)
    return set(best.values())


def reference_minhash_dedup(docs: dict[str, str], threshold: float) -> set[str]:
    """Brute force over all pairs of the operator's own signatures: a doc
    goes when a lower id agrees on >= threshold of the permutations. The
    operator's banding is exact for this threshold, so LSH must match."""
    ids = sorted(docs)
    sig_fn = minhash_signatures().func
    sigs = np.array(list(sig_fn(pd.Series([docs[i] for i in ids]))))
    agree = (sigs[:, None, :] == sigs[None, :, :]).mean(axis=2)
    lower = np.tril(agree >= threshold, k=-1)      # [b, a] with a < b
    return {i for i, dup in zip(ids, lower.any(axis=1)) if not dup}


OPERATORS = ["exact_dedup", "minhash_lsh_dedup", "remove_duplicate_passages",
             "chunk_documents"]


class WideCurate(CrawlWorkload):
    """WARC → wide crawl → dedup → chunks (the README pipeline).

    One host's pages are written to gzip-member WARC files together with
    mirrored copies of some articles under tracking-parameter URLs: ~20 %
    exact copies and ~15 % near copies (an 8-word paragraph appended),
    linked from the article's section page so the crawl discovers them.
    The crawl's sections round and its three budget-bound article rounds
    have more candidate links than ``small_round_threshold``, so admission
    takes the distributed path; the crawled markdown then runs through the
    corpus operators.
    """

    name = "wide_curate"
    site_kw = dict(n_hosts=1, pages_per_host=600, n_hot_hosts=0)
    budget = 255                # the 759 articles and copies take 3 rounds
    threshold = 300
    exact_share = 0.20
    near_share = 0.15
    long_html = 3000            # only articles this long get copies

    def build_inputs(self, spark, workdir: str) -> None:
        self.spark = spark
        site = build_site(self.seed, **self.site_kw)
        html = {u: render_page_html(site, u) for u in site.urls()}
        self.originals = set(html)
        rng = random.Random(self.seed)
        longs = [u for u in sorted(html) if "/art" in u
                 and len(html[u]) >= self.long_html]
        rng.shuffle(longs)
        n_exact = round(self.exact_share * len(html))
        n_near = round(self.near_share * len(html))
        mirrors: dict[str, list[str]] = {}      # section url -> copy urls
        for i, u in enumerate(longs[:n_exact + n_near]):
            if i < n_exact:
                copy_url, copy = u + "?utm_source=mirror", html[u]
            else:
                extra = " ".join(rng.choice(_COPY_WORDS) for _ in range(8))
                copy_url = u + "?utm_source=syndicated"
                copy = html[u].replace("</main>", f"<p>{extra}</p></main>")
            html[copy_url] = copy
            mirrors.setdefault(u.rsplit("/", 1)[0], []).append(copy_url)
        for sec, urls in mirrors.items():
            links = "".join(f'<a href="{c}">mirror</a>' for c in urls)
            html[sec] = html[sec].replace("</main>", links + "</main>")
        self.html = html
        self.n_exact, self.n_near = n_exact, n_near
        captures = sorted(html)
        rng.shuffle(captures)
        self.warc_dir = os.path.join(workdir, "warc")
        write_warc(html, captures, self.warc_dir, WARC_FILES)
        self.cfg = self._config(site)
        self.engine = self._engine()

    def run_pass(self, workdir: str) -> Pass:
        out_dir = os.path.join(workdir, "chunks")
        with self.tracer.span("pipeline") as top:
            self.pages = self._read_warc(self.warc_dir)
            p = self._crawl_rounds(os.path.join(workdir, "crawl"))
            p.stages = self._curate(p, out_dir)
        p.stages["chunk_documents"] = self.spark.read.parquet(out_dir)
        p.workdir = workdir
        p.wall_s = top.wall
        p.pages = p.crawl.fetch_log().filter(F.col("status") == 200).count()
        p.state_bytes = dir_size(workdir)[0]
        return p

    def check(self, p: Pass):
        st = p.stages
        log = p.crawl.fetch_log()
        fetched = {r["url"] for r in
                   log.filter(F.col("status") == 200).select("url").collect()}
        agg = log.agg(F.count(F.lit(1)).alias("n"),
                      F.countDistinct("seq").alias("seqs")).first()
        worst = (log.groupBy("round", "host").count()
                 .agg(F.max("count").alias("m")).first()["m"])
        big = [r for r, n in self.round_shape(p).items()
               if n >= self.threshold]

        def ids(key):
            return {r["doc_id"] for r in
                    st[key].select("doc_id").distinct().collect()}

        crawled = {r["doc_id"]: r["text"] for r in st["crawl"].collect()}
        after_exact = {r["doc_id"]: r["text"]
                       for r in st["exact_dedup"].collect()}
        after_near = ids("minhash_lsh_dedup")
        after_passages = ids("remove_duplicate_passages")
        chunked = ids("chunk_documents")
        want_exact = reference_exact_dedup(crawled)
        want_near = reference_minhash_dedup(after_exact, MINHASH_THRESHOLD)
        copies = set(self.html) - self.originals
        lost = self.originals - after_near
        return [
            ("fetched_set_equals_corpus", fetched == set(self.html),
             f"{len(fetched)} fetched of {len(self.html)}"),
            ("seqs_unique", agg["n"] == agg["seqs"],
             f"{agg['seqs']} distinct seqs over {agg['n']} fetches"),
            ("host_budget_respected",
             worst is not None and worst <= self.budget,
             f"max fetches per (round, host) {worst} <= {self.budget}"),
            ("has_distributed_round", bool(big),
             f"rounds over threshold: {sorted(big)}"),
            self._markdown_check(p),
            ("exact_dedup_equals_reference", set(after_exact) == want_exact,
             f"{len(after_exact)} kept, reference {len(want_exact)}"),
            ("minhash_equals_reference", after_near == want_near,
             f"{len(after_near)} kept, reference {len(want_near)}"),
            ("copies_removed", not copies & after_near,
             f"{len(copies & after_near)} of {len(copies)} copies kept; "
             f"{len(lost)} originals dropped as near-duplicates"),
            ("passage_removal_keeps_docs", after_passages == after_near,
             f"{len(after_passages)} docs"),
            ("chunks_cover_survivors_only",
             bool(chunked) and chunked <= after_near,
             f"{len(chunked)} chunked docs"),
        ]

    def describe(self) -> dict:
        return {**super().describe(), "originals": len(self.originals),
                "exact_copies": self.n_exact, "near_copies": self.n_near,
                "exact_share": round(self.n_exact / len(self.originals), 3),
                "near_share": round(self.n_near / len(self.originals), 3),
                "warc_files": WARC_FILES,
                "warc_bytes": dir_size(self.warc_dir)[0]}


WORKLOADS = {w.name: w for w in (CrawlPolite, WideCurate)}
