"""The benchmark's workloads: generated inputs, one timed full run, the
correctness gate against the sequential oracle, and the traced run's
per-layer probes.

Every page comes from ``goscrape_spark.sources.synth.synthetic_site`` with
the workload seed, and ``live_mirror``'s image bodies from ``asset_body``
with the same seed; the engine receives only the generated inputs.  The probes
time calls into the engine's layers from here — the package itself carries no
tracing.  They do so by wrapping, for one run only, the module-level names the
engine resolves at call time (``plans.crawl.admit``, ``plans.crawl.crawl``,
``sources.storage.CrawlCheckpoint``, ``sources.export.export_output_tree``)
and the crawler instance's checkpoint method, whose timings
``Crawler.stage_secs`` already reports.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field
from statistics import median

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from goscrape_spark import cli
from goscrape_spark.config import CrawlConfig
from goscrape_spark.operators.admission import admit
from goscrape_spark.operators.extract import process_pages_df
from goscrape_spark.operators.seen import SeenSet
from goscrape_spark.plans import crawl as crawl_mod
from goscrape_spark.plans.simulator import PageFixture, crawl_sequential
from goscrape_spark.sources import export as export_mod
from goscrape_spark.sources import storage as storage_mod
from goscrape_spark.sources.fetch import http_fetch_df
from goscrape_spark.sources.synth import synthetic_site

from mirror import MirrorServer
from spans import Tracer, job_stats, union_seconds

SEED_HOST = "bench.example.org"
FILLER_REPEAT = 160      # ~6 KB page bodies
EXT_HOSTS = 8

# stage labels of Crawler.stage_secs reported per layer
STAGES = ("processed", "inserts", "assets_allowed", "asset_fetch", "fetched",
          "next_pages")


# every per-layer metric a traced run prints, with its unit
LAYER_UNITS = {
    "crawl.jobs_per_epoch": "count", "crawl.tasks_per_epoch": "count",
    "crawl.run_s": "s", "crawl.epoch_s": "s", "crawl.driver_s": "s", "crawl.failed_tasks": "count",
    **{f"stage.{s}_s": "s" for s in STAGES},
    "trace.urls_per_s": "1/s",
    "extract.pages_per_s": "1/s", "extract.body_mb_per_s": "MB/s",
    "extract.refs_per_page": "count",
    "admission.candidates": "count", "admission.admit_ratio": "ratio",
    "admission.busy_s": "s",
    "seen.skip_ratio": "ratio", "seen.build_s": "s", "seen.probe_s": "s",
    "fetch.wire_s": "s", "fetch.requests": "count", "fetch.req_per_s": "1/s",
    "fetch.non_ok_ratio": "ratio", "fetch.largest_host_share": "ratio",
    "server.requests": "count",
    "storage.commit_s": "s", "storage.bytes_written": "B",
    "export.files": "count", "export.busy_s": "s", "export.mb_per_s": "MB/s",
    "setup.session_s": "s", "setup.inputs_s": "s", "setup.warmup_s": "s",
    "peak_rss_mb": "MB",
}


def site_pages(spark, n_pages: int, fanout: int, seed: int,
               scheme: str = "https",
               n_assets: int | None = None) -> DataFrame:
    """The synthetic site as a materialized ``pages`` table.  ``http``
    rewrites every absolute URL's scheme, for the loopback mirror (a
    plain-HTTP proxy cannot tunnel TLS)."""
    df = synthetic_site(spark, n_pages=n_pages, fanout=fanout,
                        n_assets=n_assets or max(100, n_pages // 20),
                        n_ext_hosts=EXT_HOSTS, host=SEED_HOST, seed=seed,
                        filler_repeat=FILLER_REPEAT)
    if scheme == "http":
        df = df.select(
            F.regexp_replace("url", "^https://", "http://").alias("url"),
            F.encode(F.replace(F.decode("body", "utf-8"), F.lit("https://"),
                               F.lit("http://")), "utf-8").alias("body"),
            "resp_url", "retry_after")
    return df.localCheckpoint(eager=True)


def pages_dict(pages: DataFrame) -> dict[str, bytes]:
    return {r.url: bytes(r.body)
            for r in pages.select("url", "body").collect()}


def asset_body(seed: int, url: str, size: int) -> bytes:
    """``size`` incompressible bytes behind a PNG signature, the same for
    every (seed, url): the weight of a real image, not its content."""
    rng = random.Random(hashlib.sha256(f"{seed} {url}".encode()).digest())
    return b"\x89PNG\r\n\x1a\n" + rng.randbytes(size - 8)


def files_digest(files: dict[str, bytes]) -> str:
    h = hashlib.sha256()
    for path in sorted(files):
        h.update(path.encode("utf-8") + b"\0")
        h.update(hashlib.sha256(files[path]).digest())
    return h.hexdigest()


def tree_files(root: str) -> dict[str, bytes]:
    """{path relative to root: bytes} of every file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(root) for n in names)


@dataclass
class Expected:
    """The sequential oracle's result for one seed."""

    seen: set[str]
    order: list[tuple[str, str, str]]
    digest: str

    @classmethod
    def of(cls, url: str, pages: dict[str, bytes]) -> "Expected":
        sim = crawl_sequential(CrawlConfig(url=url),
                               {u: PageFixture(body=b)
                                for u, b in pages.items()})
        return cls(set(sim.seen), [(f.url, f.kind, f.status)
                                   for f in sim.fetches],
                   files_digest(sim.files))

    def mismatch(self, seen: set[str], order: list[tuple],
                 digest: str) -> str:
        """'' when the engine's outputs equal the oracle's, else why not."""
        if seen != self.seen:
            return (f"seen set differs: {len(seen ^ self.seen)} keys "
                    f"({len(seen)} vs {len(self.seen)})")
        if order != self.order:
            i = next((i for i, (a, b) in enumerate(zip(order, self.order))
                      if a != b), min(len(order), len(self.order)))
            return f"fetch order differs at row {i} of {len(self.order)}"
        if digest != self.digest:
            return "output files differ"
        return ""


@dataclass
class Outcome:
    """One timed full run."""

    wall_s: float
    fetches: int
    seen: int
    disk_bytes: int
    error: str = ""
    stage_s: dict = field(default_factory=dict)

    @property
    def urls(self) -> int:
        return self.fetches + self.seen


class CrawlProbe:
    """Instruments one crawl from outside the package: stage intervals
    around the crawler's checkpoint method, epoch boundaries through a
    duck-typed checkpoint (or a timed ``CrawlCheckpoint`` on the live path),
    and the inputs of the largest epoch's ``admit`` call."""

    def __init__(self) -> None:
        self.crawler = None
        self.run_iv: tuple[float, float] | None = None
        self.stage_iv: list[tuple[str, float, float]] = []
        self.boundaries: list[float] = []
        self.commits: list[tuple[float, float]] = []
        self.exports: list[tuple[float, float]] = []
        self.admit_call: tuple | None = None
        self.run_span: int | None = None

    def attach(self, crawler) -> None:
        self.crawler = crawler
        inner = crawler._localckpt

        def timed(df, label=""):
            t0 = time.perf_counter()
            out = inner(df, label)
            self.stage_iv.append((label, t0, time.perf_counter()))
            return out

        crawler._localckpt = timed

    def commit_epoch(self, epoch, **_) -> None:
        """Duck-typed checkpoint: only timestamps the epoch boundary."""
        self.boundaries.append(time.perf_counter())

    @contextmanager
    def hooks(self):
        orig_admit = crawl_mod.admit
        orig_ckpt = storage_mod.CrawlCheckpoint
        orig_export = export_mod.export_output_tree
        probe = self

        def recording_admit(*args, **kwargs):
            n = probe.crawler._n_frontier if probe.crawler else 0
            if probe.admit_call is None or n >= probe.admit_call[0]:
                probe.admit_call = (n, args, kwargs)
            return orig_admit(*args, **kwargs)

        class TimedCheckpoint(orig_ckpt):
            def commit_epoch(self, *args, **kwargs):
                t0 = time.perf_counter()
                super().commit_epoch(*args, **kwargs)
                t1 = time.perf_counter()
                probe.commits.append((t0, t1))
                probe.boundaries.append(t1)

        def export(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig_export(*args, **kwargs)
            finally:
                probe.exports.append((t0, time.perf_counter()))

        crawl_mod.admit = recording_admit
        storage_mod.CrawlCheckpoint = TimedCheckpoint
        export_mod.export_output_tree = export
        try:
            yield
        finally:
            crawl_mod.admit = orig_admit
            storage_mod.CrawlCheckpoint = orig_ckpt
            export_mod.export_output_tree = orig_export

    def run(self, crawler):
        self.attach(crawler)
        t0 = time.perf_counter()
        res = crawler.run()
        self.run_iv = (t0, time.perf_counter())
        return res

    def record(self, tracer: Tracer, parent: int) -> dict:
        """Turn the recorded intervals into spans; return crawl.* metrics
        derived from them."""
        r0, r1 = self.run_iv
        run_id = self.run_span = tracer.add("crawl.run", r0, r1, parent)
        epochs, prev = [], r0
        for b in self.boundaries:
            epochs.append((tracer.add("crawl.epoch", prev, b, run_id),
                           prev, b))
            prev = b

        def parent_of(t: float) -> int:
            return next((i for i, s, e in epochs if s <= t < e), run_id)

        for label, a, b in self.stage_iv:
            tracer.add("stage." + label, a, b, parent_of(a))
        for a, b in self.commits:
            tracer.add("storage.commit", a, b, parent_of(a))
        for a, b in self.exports:
            tracer.add("export.tree", a, b, parent)
        busy = union_seconds([(a, b) for _, a, b in self.stage_iv]
                             + self.commits)
        return {"crawl.run_s": r1 - r0,
                "crawl.epoch_s": median([e - s for _, s, e in epochs])
                if epochs else 0.0,
                "crawl.driver_s": (r1 - r0) - busy,
                "epochs": len(epochs)}


# ---------------------------------------------------------------------------
class Workload:
    """Common shape: ``setup`` builds the inputs and warms up, ``run`` is one
    timed full run checked against the oracle, ``traced`` is one probed run
    followed by each layer's public entry point called alone."""

    name = ""
    seed_url = ""

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.expected: Expected | None = None
        self.last = None   # (crawler, CrawlResult) of the latest run

    def setup(self, tracer: Tracer, parent: int) -> None:
        """Generate the inputs and compute the oracle on a helper thread
        while the warm-up starts the Python workers."""
        def inputs():
            with tracer.span("setup.inputs", parent):
                self._inputs()
            with tracer.span("oracle", parent):
                self.expected = Expected.of(self.seed_url, self.site)

        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(inputs)
            with tracer.span("setup.warmup", parent):
                self._warmup()
            fut.result()

    def _warmup(self) -> None:
        """One Arrow job with a task per core: every task slot starts its
        Python worker with pandas and pyarrow loaded.  No warm-up crawl: on
        a 4-core host a 1-page crawl costs 14-21 s, which the time allowed
        per run cannot carry; the measured crawl therefore includes the
        first compilation of the crawl's plans, as a CLI run does."""
        n = self.spark.sparkContext.defaultParallelism
        self.spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long") \
            .write.format("noop").mode("overwrite").save()

    def close(self) -> None:
        pass

    # -- per-layer measurements shared by both workloads -------------------
    def _largest_epoch(self, res) -> int:
        row = (res.fetch_log.filter((F.col("kind") == "page")
                                    & (F.col("status") == "ok"))
               .groupBy("epoch").count()
               .orderBy(F.desc("count"), "epoch").first())
        return int(row.epoch)

    def _extract_alone(self, res, epoch: int, tracer: Tracer,
                       parent: int) -> dict:
        urls = res.fetch_log.filter((F.col("kind") == "page")
                                    & (F.col("status") == "ok")
                                    & (F.col("epoch") == epoch)) \
                            .select("url")
        bodies = (self.pages.join(urls, "url")
                  .select("url", "body",
                          F.monotonically_increasing_id().alias("seq"))
                  .localCheckpoint(eager=True))
        with tracer.span("extract.process_pages", parent) as sp:
            out = process_pages_df(bodies, self.last[0].seed_host, "") \
                .localCheckpoint(eager=True)
        busy = tracer.duration(sp)
        agg = out.agg(F.count("*").alias("n"),
                      F.sum(F.size("refs")).alias("refs")).first()
        in_bytes = bodies.agg(F.sum(F.length("body"))).first()[0]
        return {"extract.pages_per_s": agg.n / busy,
                "extract.body_mb_per_s": in_bytes / 1e6 / busy,
                "extract.refs_per_page": agg.refs / max(1, agg.n)}

    def _admission_alone(self, probe: CrawlProbe, tracer: Tracer,
                         parent: int) -> dict:
        _, args, kwargs = probe.admit_call
        cands = args[0].localCheckpoint(eager=True)
        seen = args[1].localCheckpoint(eager=True)
        n_cands = cands.count()
        bloom = SeenSet()
        with tracer.span("seen.build", parent) as b:
            bloom.add_keys_df(seen)
        with tracer.span("seen.probe", parent) as p:
            bloom.probe_df(cands.select("dedup_key")) \
                .write.format("noop").mode("overwrite").save()
        kwargs = dict(kwargs, bloom=bloom)
        with tracer.span("admission.admit", parent) as a:
            inserts, _ = admit(cands, seen, *args[2:], **kwargs)
            inserts = inserts.localCheckpoint(eager=True)
        admitted = inserts.count()
        crawl_bloom = probe.crawler.bloom
        total = crawl_bloom.probe_total.value if crawl_bloom else 0
        hits = crawl_bloom.probe_hits.value if crawl_bloom else 0
        return {"admission.candidates": n_cands,
                "admission.admit_ratio": admitted / max(1, n_cands),
                "admission.busy_s": tracer.duration(a),
                "seen.skip_ratio": (total - hits) / max(1, total),
                "seen.build_s": tracer.duration(b),
                "seen.probe_s": tracer.duration(p)}

    def traced(self, tracer: Tracer, parent: int) -> tuple[Outcome, dict]:
        """One traced full run plus each layer called alone."""
        probe = CrawlProbe()
        sc = self.spark.sparkContext
        group = f"perfbench-{self.name}-{self.seed}-traced"
        sc.setJobGroup(group, "traced run", False)
        try:
            with tracer.span("run.traced", parent) as sp, probe.hooks():
                out = self.run(probe)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        m = probe.record(tracer, sp)
        js = job_stats(sc, group)
        crawler, res = self.last
        epochs = max(1, m.pop("epochs"))
        metrics = {"crawl.jobs_per_epoch": js["jobs"] / epochs,
                   "crawl.tasks_per_epoch": js["tasks"] / epochs,
                   "crawl.failed_tasks": js["failed_tasks"], **m}
        for s in STAGES:
            metrics[f"stage.{s}_s"] = crawler.stage_secs.get(s, 0.0)
        metrics["trace.urls_per_s"] = out.urls / out.wall_s
        epoch = self._largest_epoch(res)
        with tracer.span("layers.alone", parent) as lp:
            metrics.update(self._extract_alone(res, epoch, tracer, lp))
            metrics.update(self._admission_alone(probe, tracer, lp))
            metrics.update(self._io_alone(res, epoch, probe, tracer, lp))
        if metrics["server.requests"] != metrics["fetch.requests"]:
            out.error = (f"{metrics['server.requests']} requests on the wire "
                         f"for {metrics['fetch.requests']} fetch attempts")
        return out, metrics


class WideMock(Workload):
    """Mock-fetch crawl of a wide k-ary site: few, large epochs."""

    name = "wide_mock"
    seed_url = f"https://{SEED_HOST}/"
    N_PAGES = 10001           # the seed page links to 10,000 pages:
    FANOUT = 10000            # 2 BFS epochs, the second holds the work

    def _inputs(self) -> None:
        self.pages = site_pages(self.spark, self.N_PAGES, self.FANOUT,
                                self.seed)
        self.site = pages_dict(self.pages)

    def run(self, probe: CrawlProbe | None = None) -> Outcome:
        t0 = time.perf_counter()
        crawler = crawl_mod.Crawler(self.spark, CrawlConfig(url=self.seed_url),
                                    self.pages, use_bloom=True,
                                    checkpoint=probe)
        res = probe.run(crawler) if probe else crawler.run()
        seen = {r.dedup_key for r in res.seen.select("dedup_key").collect()}
        order = [(r.url, r.kind, r.status) for r in res.ordered_fetches()]
        files = {r.file_path: bytes(r.body)
                 for r in res.output.select("file_path", "body").collect()}
        wall = time.perf_counter() - t0
        self.last = (crawler, res)
        err = self.expected.mismatch(seen, order, files_digest(files))
        return Outcome(wall, len(order), len(seen),
                       sum(len(b) for b in files.values()), err,
                       dict(crawler.stage_secs))

    def _io_alone(self, res, epoch, probe, tracer, parent) -> dict:
        # no network, checkpoint directory or exported tree on this path
        return {"fetch.wire_s": 0.0, "fetch.requests": 0, "fetch.req_per_s": 0.0,
                "fetch.non_ok_ratio": 0.0, "fetch.largest_host_share": 0.0,
                "server.requests": 0, "storage.commit_s": 0.0,
                "storage.bytes_written": 0, "export.files": 0,
                "export.busy_s": 0.0, "export.mb_per_s": 0.0}


class LiveMirror(Workload):
    """The user command: live HTTP fetch through ``--proxy`` to a loopback
    mirror of the synthetic site, with ``--checkpoint`` and ``--output``."""

    name = "live_mirror"
    seed_url = f"http://{SEED_HOST}/"
    N_PAGES = 49              # seed page + 48 children: 2 BFS epochs
    FANOUT = 48
    # a small asset pool keeps the distinct-URL count (the numerator of
    # urls_per_s) nearly the same for every seed on a site this small
    N_ASSETS = 4
    # every referenced asset is served with an image-sized body, so the
    # bytes a mirror moves, not per-page parsing, set this workload's cost
    ASSET_BYTES = 1 << 20

    server: MirrorServer | None = None

    def setup(self, tracer: Tracer, parent: int) -> None:
        if self.server is None:
            self.server = MirrorServer(
                {}, threads=len(os.sched_getaffinity(0))).start()
        super().setup(tracer, parent)

    def _inputs(self) -> None:
        self.pages = site_pages(self.spark, self.N_PAGES, self.FANOUT,
                                self.seed, scheme="http",
                                n_assets=self.N_ASSETS)
        self.site = pages_dict(self.pages)
        # the asset URLs the pages reference, from an oracle pass over the
        # pages alone
        sim = crawl_sequential(CrawlConfig(url=self.seed_url),
                               {u: PageFixture(body=b)
                                for u, b in self.site.items()})
        for f in sim.fetches:
            if f.kind == "asset":
                self.site[f.url] = asset_body(self.seed, f.url,
                                              self.ASSET_BYTES)
        self.server.site.update(self.site)

    def close(self) -> None:
        if self.server is not None:
            self.server.close()

    def _cli(self) -> tuple[str, str]:
        out = os.path.join(self.work, "run", "out")
        ckpt = os.path.join(self.work, "run", "ckpt")
        shutil.rmtree(os.path.join(self.work, "run"), ignore_errors=True)
        rc = cli.run([self.seed_url, "--output", out, "--checkpoint", ckpt,
                      "--proxy", self.server.proxy_url, "--bloom"],
                     spark=self.spark)
        if rc != 0:
            raise RuntimeError(f"cli exited {rc}")
        return out, ckpt

    @contextmanager
    def _capture(self, probe: CrawlProbe | None):
        """Route the CLI's ``crawl`` call through an equivalent one that
        keeps the crawler and its result."""
        orig = crawl_mod.crawl

        def crawl(spark, config, pages, resume=False, **kwargs):
            crawler = crawl_mod.Crawler(spark, config, pages, **kwargs)
            res = probe.run(crawler) if probe else crawler.run(resume=resume)
            self.last = (crawler, res)
            return res

        crawl_mod.crawl = crawl
        try:
            yield
        finally:
            crawl_mod.crawl = orig

    def run(self, probe: CrawlProbe | None = None) -> Outcome:
        req0 = self.server.requests
        t0 = time.perf_counter()
        with self._capture(probe):
            out, ckpt = self._cli()
        wall = time.perf_counter() - t0
        on_wire = self.server.requests - req0
        _, res = self.last
        seen = {r.dedup_key for r in res.seen.select("dedup_key").collect()}
        fetches = res.ordered_fetches()
        order = [(r.url, r.kind, r.status) for r in fetches]
        files = tree_files(out)
        err = self.expected.mismatch(seen, order, files_digest(files))
        attempts = sum(r.attempts for r in fetches)
        if not err and on_wire != attempts:
            err = f"{on_wire} requests on the wire for {attempts} attempts"
        return Outcome(wall, len(order), len(seen),
                       tree_bytes(out) + tree_bytes(ckpt), err,
                       dict(self.last[0].stage_secs))

    def _io_alone(self, res, epoch, probe, tracer, parent) -> dict:
        # the crawl's time on the wire: the union of the requests the
        # server handled while the traced crawl ran
        r0, r1 = probe.run_iv
        wire = [(a, b) for a, b in self.server.intervals if r0 <= a < r1]
        for a, b in wire:
            tracer.add("fetch.request", a, b, probe.run_span)
        urls = res.fetch_log.filter(F.col("epoch") == epoch).select("url") \
                  .localCheckpoint(eager=True)
        cfg = CrawlConfig(url=self.seed_url, proxy=self.server.proxy_url)
        req0 = self.server.requests
        with tracer.span("fetch.http_fetch", parent) as f:
            fetched = http_fetch_df(urls, cfg).drop("body") \
                .localCheckpoint(eager=True)
        on_wire = self.server.requests - req0
        rows = fetched.select("url", "status", "attempts").collect()
        hosts: dict[str, int] = {}
        for r in rows:
            h = r.url.split("/")[2]
            hosts[h] = hosts.get(h, 0) + 1
        requests = sum(r.attempts for r in rows)
        busy = tracer.duration(f)
        # the output table's paths are absolute under the run's --output:
        # export it again into an emptied copy of that root
        export_root = os.path.join(self.work, "run", "out")
        shutil.rmtree(export_root)
        with tracer.span("export.alone", parent) as e:
            n_files = export_mod.export_output_tree(res.output, export_root)
        export_s = tracer.duration(e)
        return {"fetch.wire_s": union_seconds(wire),
                "fetch.requests": requests,
                "fetch.req_per_s": requests / busy,
                "fetch.non_ok_ratio": sum(r.status != "ok" for r in rows)
                / max(1, len(rows)),
                "fetch.largest_host_share": max(hosts.values())
                / max(1, len(rows)),
                "server.requests": on_wire,
                "storage.commit_s": sum(b - a for a, b in probe.commits),
                "storage.bytes_written": tree_bytes(
                    os.path.join(self.work, "run", "ckpt")),
                "export.files": n_files,
                "export.busy_s": export_s,
                "export.mb_per_s": tree_bytes(export_root) / 1e6 / export_s}


WORKLOADS = {w.name: w for w in (WideMock, LiveMirror)}
