"""Seeded crawl workloads and their output checks.

Each workload builds its inputs from a seed, hands the engine only
generated DataFrames, runs one complete ``CrawlEngine.run`` per call to
``crawl()`` and checks the result in ``check()``.

- ``FixtureAudit``: a sitegen web (sitemap, robots disallows, redirect
  chains, a trap section, near-duplicate pairs) crawled in memory; every
  output is compared exactly with ``ReferenceCrawlOracle`` and the issue
  report with a ``RefIssueDetector`` replay.
- ``ResumeBacklog``: a synthetic web built with ``spark.range`` (200
  hosts, one hot rate-limited host, 8 links a page) and a checkpoint
  holding a crawl history; each crawl resumes from a fresh copy of it
  with politeness on and ``retry_mode="requeue"``. Its outputs are
  checked against invariants and a fingerprint; a down-scaled instance
  of the generator is checked exactly against the oracle.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from collections import Counter

from pyspark.sql import functions as F

from librecrawl_spark.config import CrawlConfig
from librecrawl_spark.fixtures.sitegen import SiteGenConfig, generate_site, site_to_spark
from librecrawl_spark.oracle.refcrawl import ReferenceCrawlOracle
from librecrawl_spark.plans.crawl import CrawlEngine
from librecrawl_spark.storage.tableio import TableIO

PAGE_FIELDS = (
    "url", "status_code", "content_type", "size", "is_internal", "depth",
    "title", "meta_description", "h1", "h1_list", "h2", "h3",
    "word_count", "canonical_url", "robots", "viewport",
    "internal_links", "external_links", "redirect_count", "redirects",
    "json_ld_count", "json_ld", "error", "lang", "charset", "x_robots_tag",
    "schema_types", "faq_count", "has_organization", "has_website",
    "article_fields_ok", "retry_count", "backoff_total", "response_time",
)
LINK_FIELDS = ("source_url", "target_url", "anchor_text", "is_internal",
               "target_domain", "placement", "nofollow", "scope", "target_status")


def _cache(df):
    """Inputs are local checkpoints: clearCache between crawls keeps them."""
    return df.localCheckpoint(eager=True)


class Outcome:
    """What one crawl produced: the result, its materialized sizes and
    the wall time from ``run()`` until pages and links were counted."""

    def __init__(self, result, t0, t1, n_pages, n_links):
        self.result = result
        self.t0, self.t1 = t0, t1
        self.crawl_s = t1 - t0
        self.n_pages = n_pages
        self.n_links = n_links
        self.seen_growth = result.stats["discovered"]

    @property
    def wave_walls(self):
        return [w["wall_ms"] / 1000.0 for w in self.result.lineage]


def materialize(engine, clock):
    """Run the engine and count its pages and links: ``crawl_s`` ends
    when both are materialized."""
    t0 = clock()
    res = engine.run()
    n_pages = res.pages.count()
    n_links = res.links.count()
    return Outcome(res, t0, clock(), n_pages, n_links)


def compare_with_oracle(o, res, n_pages):
    """Exact comparison of an engine crawl with a ReferenceCrawlOracle
    run: seen set with seq and depth, fetch order, page fields, link
    graph and stats. Returns (errors, digest of the collected rows)."""
    errs = []
    seen_rows = sorted((r["url"], r["seq"], r["depth"]) for r in res.seen.collect())
    want_seen = {(u, i, d) for i, (u, d) in enumerate(o["seen"])}
    if set(seen_rows) != want_seen:
        errs.append(f"seen set differs: {len(set(seen_rows) ^ want_seen)} rows")
    pages = res.pages.orderBy("wave", "seq").select(*PAGE_FIELDS, "linked_from").collect()
    if [(r["url"], r["depth"]) for r in pages] != o["fetch_order"]:
        errs.append("fetch order differs")
    want_pages = {p["url"]: p for p in o["pages"]}
    for r in pages:
        p = want_pages.get(r["url"])
        if p is None:
            errs.append(f"unexpected page {r['url']}")
            continue
        bad = [c for c in PAGE_FIELDS if r[c] != p[c]]
        if set(r["linked_from"]) != set(p["linked_from"]):
            bad.append("linked_from")
        if bad:
            errs.append(f"page {r['url']} differs in {bad}")
    got_links = {(r["source_url"], r["target_url"]): r.asDict()
                 for r in res.links.select(*LINK_FIELDS).collect()}
    want_links = {(l["source_url"], l["target_url"]): l for l in o["links"]}
    if set(got_links) != set(want_links):
        errs.append("link set differs")
    else:
        errs += [f"link {k} differs" for k, w in want_links.items()
                 if any(got_links[k][c] != w[c] for c in LINK_FIELDS)]
    for k in ("crawled", "discovered"):
        if res.stats[k] != o["stats"][k]:
            errs.append(f"stats.{k} {res.stats[k]} != {o['stats'][k]}")
    if n_pages != o["stats"]["crawled"]:
        errs.append("page count differs from crawled")
    digest = hashlib.sha256(repr((seen_rows, [tuple(r) for r in pages])).encode())
    return errs, digest


# ----------------------------------------------------------------- fixture
class FixtureAudit:
    name = "fixture_audit"
    # A flat sitemap: the sitemap-index bootstrap adds 11-18 s to a cold
    # crawl, more than the run budget of two workloads allows. A small,
    # densely linked seed host keeps the discovered-URL count (urls_per_s)
    # within a few percent across seeds; 200 base pages gave 16% spread.
    site_cfg = dict(n_hosts=8, pages_base_host=20, pages_other_host=60, fanout=12,
                    trap_pages=40, near_dup_pairs=2, sitemap_index=False)
    # The budget cut ends the crawl with its first wave: the seed root
    # and six sitemap pages of the base host (among them a 500, a
    # noindex page and a tracking-parameter URL), finding ~35 URLs. A second wave's cost depended on the seed's
    # link structure (6 s on some seeds, 11 s on others), which spread
    # wave_p50_s by a quarter across seeds.
    crawl_cfg = CrawlConfig(max_depth=6, max_urls=7)
    with_report = True
    scaling = False          # a 7-page wave is fixed cost, not data-parallel work

    def __init__(self, seed: int, scale: str = "full"):
        self.seed = seed
        if scale == "tiny":
            self.site_cfg = dict(self.site_cfg, n_hosts=3, pages_base_host=30,
                                 pages_other_host=5, trap_pages=5)
            self.crawl_cfg = CrawlConfig(max_depth=6, max_urls=14)

    def sizes(self) -> dict:
        return {"docs": len(self.site.documents), "hosts": len(self.site.hosts),
                "max_urls": self.crawl_cfg.max_urls,
                "max_depth": self.crawl_cfg.max_depth}

    def setup(self, spark, workdir: str) -> None:
        self.spark = spark
        self.site = generate_site(SiteGenConfig(seed=self.seed, **self.site_cfg))
        self.seeds = [s["url"] for s in self.site.seeds]
        self.oracle = ReferenceCrawlOracle(
            self.site.documents, self.site.hosts, self.site.base_url,
            self.crawl_cfg, sitemap_bodies=self.site.sitemap_bodies,
        ).run(self.seeds)
        docs, hosts, _ = site_to_spark(spark, self.site)
        self.docs, self.hosts = _cache(docs), _cache(hosts)

    def prepare(self) -> None:
        """Nothing beyond ``setup``: the crawl starts from its seeds."""

    def engine(self, max_waves=None):
        return CrawlEngine(self.spark, self.docs, self.hosts, self.site.base_url,
                           self.crawl_cfg, seed_urls=self.seeds,
                           sitemap_bodies=self.site.sitemap_bodies, max_waves=max_waves)

    def crawl(self, clock) -> Outcome:
        return materialize(self.engine(), clock)

    def check(self, out: Outcome) -> list[str]:
        errs, self._digest = compare_with_oracle(self.oracle, out.result, out.n_pages)
        return errs

    def check_report(self, res, issues_rows) -> list[str]:
        """Issue multiset equality against the reference replay."""
        from librecrawl_spark.oracle.refissues import RefIssueDetector

        pg_rows = [r.asDict(recursive=True)
                   for r in res.pages.orderBy("wave", "seq").collect()]
        link_rows = [r.asDict() for r in
                     res.links.orderBy("src_wave", "src_seq", "pos").collect()]
        det = RefIssueDetector(())
        for r in pg_rows:
            det.detect_issues(r)
        if res.sitemap_urls is not None:
            det.detect_sitemap_issues(
                sorted(r["url"] for r in res.sitemap_urls.collect()), pg_rows)
        det.detect_links_to_redirects(pg_rows, link_rows)
        det.detect_broken_link_sources(pg_rows, link_rows)
        det.detect_hreflang_issues(pg_rows)
        det.detect_duplication_issues(pg_rows, self.crawl_cfg.duplication_threshold)
        key = ("url", "type", "category", "issue", "details")
        want = Counter(tuple(i[k] for k in key) for i in det.get_issues())
        got = Counter(tuple(r[k] for k in key) for r in issues_rows)
        if want != got:
            return [f"issue report differs: {sum((want - got).values())} missing, "
                    f"{sum((got - want).values())} extra"]
        return []

    def fingerprint(self, out: Outcome) -> str:
        """Digest of the rows ``check`` collected (no extra Spark job)."""
        return self._digest.hexdigest()[:16]

    def oracle_check(self, workdir) -> list[str]:
        """Every crawl of this workload is compared exactly with the
        oracle already."""
        return []


# ------------------------------------------------------------ resume backlog
ROOT_LINKS = 24  # the base host's root links this many backlog ids


class ResumeBacklog:
    """Resume a crawl whose checkpoint holds ``history`` crawled URLs and
    ``backlog`` pending ones, 80% of the backlog on the hot host.

    URL ids: [0, history) were crawled before the checkpoint,
    [history, history + backlog) are pending, and [seen, universe) are
    not yet discovered. Documents exist for every id from ``history``
    on; each page links 8 ids drawn over the whole universe, so most
    links hit the seen set and about a tenth are new."""

    name = "resume_backlog"
    n_hosts = 200
    hot_delay = 2.0          # the hot host gets wave_seconds / 2 = 30 fetches a wave
    history = 60_000
    backlog = 10_000
    new = 10_000
    waves = 1                # one resumed wave: the per-wave cost at this history
    start_wave = 10
    retry_pct = 3            # % of non-hot documents answering 429 once
    with_report = False
    scaling = True           # its wave is timed at local[1] and local[4]

    def __init__(self, seed: int, scale: str = "full"):
        self.seed = seed
        if scale == "tiny":
            self.n_hosts, self.history, self.backlog, self.new = 6, 40, 30, 30
        self.seen_n = self.history + self.backlog
        self.universe = self.seen_n + self.new
        self.base_url = f"https://web{seed}.example"
        # maintenance lands inside every run: any `waves` consecutive
        # wave numbers contain one multiple of `waves`
        self.crawl_cfg = CrawlConfig(
            max_depth=50, max_urls=10**9, crawl_external=True,
            discover_sitemaps=False, retry_mode="requeue", retries=3,
            delay=2.0, wave_seconds=60.0, maintenance_every_waves=self.waves,
        )

    def sizes(self) -> dict:
        return {"hosts": self.n_hosts, "seen": self.seen_n, "pending": self.backlog,
                "history": self.history, "docs": self.universe - self.history,
                "waves": self.waves, "links_per_page": 8}

    # -- generator: every column is a pure function of (id, seed) ---------
    def _h(self, idc, *salt):
        return F.xxhash64(idc, F.lit(self.seed), *[F.lit(x) for x in salt])

    def _url(self, idc):
        # backlog ids are 80% hot, all others 20% hot
        pct = F.when((idc >= self.history) & (idc < self.seen_n), F.lit(80)).otherwise(F.lit(20))
        host = F.when(F.pmod(self._h(idc, 1), F.lit(100)) < pct, F.lit(0)).otherwise(
            F.lit(1) + F.pmod(self._h(idc, 2), F.lit(self.n_hosts - 1)))
        # letters only: digits in a path collapse to one trap signature
        key = F.translate(F.lower(F.hex(idc)), "0123456789abcdef", "ghijklmnopqrstuv")
        return F.concat(F.lit("https://h"), host.cast("string"),
                        F.lit(f".web{self.seed}.example/s/"), key)

    def urls(self, lo, hi):
        """(id, url) for ids in [lo, hi)."""
        return self.spark.range(lo, hi).select("id", self._url(F.col("id")).alias("url"))

    def setup(self, spark, workdir: str) -> None:
        """Hosts and documents."""
        self.spark = spark
        self.template = os.path.join(workdir, "ckpt-template")
        self.ckpt = os.path.join(workdir, "ckpt")
        hosts = spark.range(self.n_hosts).select(
            F.concat(F.lit("h"), F.col("id").cast("string"),
                     F.lit(f".web{self.seed}.example")).alias("host"),
            F.concat(F.lit("User-agent: *\nDisallow: /private/"),
                     F.when(F.col("id") == 0, F.lit(f"\nCrawl-delay: {int(self.hot_delay)}"))
                     .otherwise(F.lit(""))).alias("robots_txt"),
            F.when(F.col("id") == 0, F.lit(self.hot_delay)).otherwise(F.lit(0.0))
            .alias("crawl_delay"),
            F.lit("").alias("sitemap_xml"),
        )
        self.hosts = _cache(hosts)
        self.docs = _cache(self._documents())

    def _documents(self):
        """One page per id from ``history`` on, plus the base host's root
        page linking into the backlog (the entry of a fresh crawl)."""
        idc = F.col("id")
        retry = (F.pmod(self._h(idc, 3), F.lit(100)) < self.retry_pct) \
            & ~self._url(idc).startswith("https://h0.")
        http = F.concat(
            F.lit("status="), F.when(retry, F.lit("429")).otherwise(F.lit("200")),
            F.lit(";content_type=text/html;size="),
            (F.lit(800) + F.pmod(self._h(idc, 4), F.lit(4000))).cast("string"),
            F.lit(";redirect=;retry_after="),
            F.when(retry, F.lit("1;recover_after=1;recover_status=200")).otherwise(F.lit("")),
            F.lit(";rt="), (F.lit(50) + F.pmod(self._h(idc, 5), F.lit(900))).cast("string"),
        )

        def span(kind, text, ref=F.lit("")):
            return F.struct(F.lit(kind).alias("kind"), text.alias("text"),
                            ref.alias("media_ref"), F.lit(0).alias("offset"))

        def anchors(target, n=8):
            return F.transform(F.sequence(F.lit(0), F.lit(n - 1)), lambda k: span(
                "anchor", F.concat(F.lit("link "), k.cast("string"), F.lit("\x1fbody\x1f\x1f")),
                self._url(target(k))))

        def page(title, links):
            return F.concat(F.array(
                span("http", http),
                span("title", title),
                span("h1", title),
                span("text", F.lit("spark crawl frontier wave shuffle partition "
                                   "arrow batch dedup hash bloom")),
            ), links)

        pages = self.spark.range(self.history, self.universe).select(
            self._url(idc).alias("doc_id"),
            page(F.concat(F.lit("Page "), idc.cast("string")),
                 anchors(lambda k: F.pmod(F.xxhash64(idc, k, F.lit(self.seed)),
                                          F.lit(self.universe)))).alias("spans"))
        root = self.spark.range(1).select(
            F.lit(self.base_url + "/").alias("doc_id"),
            page(F.lit("Home"), anchors(lambda k: F.lit(self.history).cast("long")
                                        + k.cast("long"), n=ROOT_LINKS)).alias("spans"))
        return pages.unionByName(root)

    def prepare(self) -> None:
        """The checkpoint every crawl resumes from (a template copied
        before each crawl)."""
        shutil.rmtree(self.template, ignore_errors=True)
        tio = TableIO(self.template)
        seen = self.urls(0, self.seen_n).select(
            "url", F.lit(1).alias("depth"), F.col("id").alias("seq"))
        seen = CrawlEngine._with_hash(seen)
        pending = self.urls(self.history, self.seen_n).select(
            "url", F.lit(1).alias("depth"), F.col("id").alias("seq"),
            F.lit(self.start_wave).alias("wave"), F.lit(0).alias("retry_count"),
            F.lit(0).alias("ready_wave"))
        spark = self.spark
        snaps = {
            "seen": tio.commit("seen", seen, mode="overwrite"),
            "pending": tio.commit("pending", pending, mode="overwrite"),
            "counts": tio.commit("counts", spark.createDataFrame(
                [], "signature string, cnt long"), mode="overwrite"),
            "traps": tio.commit("traps", spark.createDataFrame(
                [], "signature string, example_url string, hits long, first_wave int"),
                mode="overwrite"),
        }
        tio.checkpoint({"crawled": self.history, "next_seq": self.seen_n,
                        "wave": self.start_wave}, snaps)

    def engine(self):
        # every crawl resumes from an untouched copy of the checkpoint
        shutil.rmtree(self.ckpt, ignore_errors=True)
        shutil.copytree(self.template, self.ckpt)
        # manifests list absolute file paths: repoint them at the copy
        for dirpath, _, files in os.walk(self.ckpt):
            for f in files:
                if f.endswith(".json"):
                    p = os.path.join(dirpath, f)
                    with open(p) as fh:
                        txt = fh.read()
                    with open(p, "w") as fh:
                        fh.write(txt.replace(self.template, self.ckpt))
        return CrawlEngine(self.spark, self.docs, self.hosts, self.base_url,
                           self.crawl_cfg, politeness=True, checkpoint_dir=self.ckpt,
                           max_waves=self.waves)

    def oracle_check(self, workdir) -> list[str]:
        """A fresh crawl of a down-scaled instance of this generator's web, from the base
        host's root, compared exactly with ReferenceCrawlOracle (inline
        retries, no politeness: the oracle's semantics). Returns its
        check errors."""
        spark = self.spark
        tiny = ResumeBacklog(self.seed, "tiny")
        tiny.setup(spark, workdir)
        cfg = CrawlConfig(max_depth=1, max_urls=60, crawl_external=True,
                          discover_sitemaps=False)
        docs = [{"doc_id": r["doc_id"], "spans": [s.asDict() for s in r["spans"]]}
                for r in tiny.docs.collect()]
        hosts = [r.asDict() for r in tiny.hosts.collect()]
        seeds = [tiny.base_url + "/"]
        oracle = ReferenceCrawlOracle(docs, hosts, tiny.base_url, cfg).run(seeds)
        eng = CrawlEngine(spark, tiny.docs, tiny.hosts, tiny.base_url, cfg, seed_urls=seeds)
        out = materialize(eng, time.perf_counter)
        errs, _ = compare_with_oracle(oracle, out.result, out.n_pages)
        if out.n_pages < 20:
            errs.append(f"oracle crawl too small to mean much: {out.n_pages} pages")
        return errs

    def crawl(self, clock) -> Outcome:
        out = materialize(self.engine(), clock)
        out.seen_growth = out.result.stats["discovered"] - self.seen_n
        return out

    def check(self, out: Outcome) -> list[str]:
        """Invariants, in few Spark jobs: seen URLs distinct with dense
        seq; crawled equals the page rows; every page in the seen set,
        fetched once, and not before the checkpoint (its seen seq is at
        least ``history``); no recovering 429 kept as a page; per-host
        fetches per wave within wave_seconds / crawl_delay."""
        res, errs = out.result, []
        seen = res.seen.select("url", "seq", "depth")
        s = seen.agg(F.count("*").alias("n"), F.countDistinct("url").alias("d"),
                     F.min("seq").alias("lo"), F.max("seq").alias("hi"),
                     F.bit_xor(F.xxhash64("url", "seq", "depth")).alias("x")).collect()[0]
        if s["n"] != s["d"]:
            errs.append("seen URLs are not distinct")
        if (s["lo"], s["hi"]) != (0, s["n"] - 1) or s["n"] != res.stats["discovered"]:
            errs.append("seen seq is not dense")
        if res.stats["crawled"] - self.history != out.n_pages:
            errs.append("crawled count differs from page rows")
        if out.n_pages == 0 or len(res.lineage) != self.waves:
            errs.append("crawl did not run its waves")
        pages = res.pages.select("url", "wave", "status_code", "depth", "title")
        p = pages.join(seen.select("url", F.col("seq").alias("seen_seq")), "url", "left").agg(
            F.count("*").alias("n"), F.countDistinct("url").alias("d"),
            F.count_if(F.col("seen_seq").isNull()).alias("unseen"),
            F.count_if(F.col("seen_seq") < self.history).alias("old"),
            F.count_if(F.col("status_code") == 429).alias("retry"),
            F.bit_xor(F.xxhash64("url", "status_code", "depth", "title", "wave")).alias("x"),
        ).collect()[0]
        if p["unseen"]:
            errs.append("a page is missing from the seen set")
        if p["d"] != out.n_pages or p["n"] != out.n_pages:
            errs.append("a page was fetched twice")
        if p["old"]:
            errs.append("a page from before the checkpoint was fetched again")
        if p["retry"]:
            errs.append("a recovering 429 was recorded as a page")
        quota = {r["host"]: max(1, int(self.crawl_cfg.wave_seconds // r["crawl_delay"]))
                 for r in self.hosts.filter("crawl_delay > 0").collect()}
        over = (
            pages.withColumn("host", F.regexp_extract("url", "^https?://([^/]+)", 1))
            .filter(F.col("host").isin(*quota)).groupBy("host", "wave").count().collect()
        )
        errs += [f"host {r['host']} fetched {r['count']} in wave {r['wave']}"
                 for r in over if r["count"] > quota[r["host"]]]
        self._digest = hashlib.sha256(repr((s["n"], s["x"], p["n"], p["x"])).encode())
        return errs

    def fingerprint(self, out: Outcome) -> str:
        """Order-free digest of the crawl's seen set and pages, taken by
        ``check``: equal across runs of one seed, and unchanged by any
        plan or storage layout."""
        return self._digest.hexdigest()[:16]


WORKLOADS = {w.name: w for w in (FixtureAudit, ResumeBacklog)}
