"""Traced run: splits a crawl into the engine's layers.

The end-to-end numbers come from untraced crawls. Here one more crawl
runs inside a span (its Spark jobs, stages and tasks are counted
through its job group), and then every generation's inputs are rebuilt
from that crawl's own output:

- frontier = seen rows at depth d;
- fetched = the transport's output for the frontier rows the crawl
  fetched;
- candidates = ``posexplode(parsed.links)`` of the previous generation
  (the seeds for generation 0).

Each input is pinned, and each layer's public function is timed on it
under its own job group with a no-op sink. The seen anti-join and the
link fan-out have no public function; they are replayed with the
engine's expressions and labelled ``replay``. Layers a workload's
crawl does not run (robots and snapshot commits on an in-memory crawl,
local checkpoints on a durable one) are timed as what-ifs on the same
inputs and left out of the layer sum.

Spans (name, start, end, parent, crawl id, rows, jobs) stay in memory
and are written to ``.perfbench_out/`` at the end. Shuffle bytes come
from Spark's event log, read after the session stops.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flyscrape_spark.functions.urls import canonicalize, host_of
from flyscrape_spark.operators.robots import allowed_filter, robots_table
from flyscrape_spark.parse.html import links_from_root, parse_html, spans_from_root
from flyscrape_spark.parse.udfs import make_page_udf
from flyscrape_spark.plans.filters import domain_filter
from flyscrape_spark.plans.frontier import (
    CAND_SCHEMA,
    CrawlEngine,
    assign_global_order_counted,
)
from flyscrape_spark.sources.snapshots import SnapshotStore

from perfbench.sitetransport import SiteTransport

# pages per generation parsed in-process for the Python-compute split
PY_PARSE_SAMPLE = 300

# layer -> (module the layer lives in, whether it is a replay of
# engine expressions rather than a call of a public function)
LAYERS = {
    "key": ("functions.urls", False),
    "dedup": ("plans.frontier", False),
    "antijoin": ("plans.frontier", True),
    "order": ("plans.frontier", False),
    "checkpoint.local": ("plans.frontier", False),
    "checkpoint.commit": ("sources.snapshots", False),
    "robots.table": ("operators.robots", False),
    "robots.filter": ("operators.robots", False),
    "fetch": ("sources.transport", False),
    "parse.udf": ("parse.udfs", False),
    "parse.arrow": ("parse.udfs", True),
    "parse.py": ("parse.html", False),
    "fanout": ("plans.frontier", True),
    "checkpoint.resume": ("sources.snapshots", False),
}
# sub-measurements of parse.udf: never part of the layer sum
PARSE_SPLIT = ("parse.arrow", "parse.py")


class Tracer:
    """In-memory spans. Every span runs under its own Spark job group,
    so the jobs a span triggers are attributed to exactly one span."""

    def __init__(self, spark, crawl_id: str):
        self.sc = spark.sparkContext
        self.crawl_id = crawl_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def group(self, span: dict) -> str:
        return f"{self.crawl_id}/{span['id']}/{span['name']}"

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "crawl_id": self.crawl_id, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(self.group(rec), name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(self.group(parent), parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec.update(self._job_counts(self.group(rec)))

    def _job_counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = tracker.getStageInfo(sid)
                if stage is not None and stage.numTasks:
                    stages += 1
                    tasks += stage.numTasks
        return {"group": group, "jobs": len(jobs), "stages": stages,
                "tasks": tasks}

    def self_s(self, span: dict) -> float:
        """Duration minus the part covered by child spans."""
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        return (span["end"] - span["start"]) - sum(
            k["end"] - k["start"] for k in kids)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


def noop(df: DataFrame) -> None:
    """Compute every column of ``df`` and discard it."""
    df.write.format("noop").mode("overwrite").save()


def pin(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


@F.pandas_udf("string")
def identity_udf(body: pd.Series, url: pd.Series) -> pd.Series:
    """Ships (body, url) to Python and body back: the Arrow transfer
    part of the page UDF's cost, with no parse."""
    return body


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*.parquet"))


@dataclass
class Gen:
    """Row counts and per-layer seconds of one replayed generation."""
    d: int
    n: dict = field(default_factory=dict)
    s: dict = field(default_factory=dict)


class Replay:
    def __init__(self, spark, tracer: Tracer, workload, inputs, result,
                 workdir: Path):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.config = inputs.config
        self.seen = pin(result.seen.select(
            *[c for c in ("url", "url_key", "url_key2", "depth",
                          "discovery_order") if c in result.seen.columns]))
        self.fetched_keys = pin(result.results.select("url", "depth"))
        # robots what-ifs need a transport that serves robots.txt
        self.robots_transport = (
            inputs.transport if inputs.config.respect_robots
            else SiteTransport(inputs.model.d_pages, inputs.model.branching))
        self.page_udf = make_page_udf(self.config.follow_selectors())
        self.store_root = workdir / "replay-store"
        self.store = SnapshotStore(str(self.store_root))
        self.gens: list[Gen] = []
        self.problems: list[str] = []
        self.robots_frames: list[DataFrame] = []
        self.n_robots_hosts = 0
        self.in_crawl = in_crawl(workload, inputs)

    def times(self, g: Gen, name: str) -> bool:
        """Layers the crawl runs replay every generation; what-ifs only
        generation 0, which keeps the traced run short."""
        return name in self.in_crawl or g.d == 0

    @contextmanager
    def layer(self, g: Gen, name: str, rows: int | None = None):
        module, replay = LAYERS[name]
        with self.tracer.span(name, module=module, replay=replay, gen=g.d,
                              rows_in=rows) as rec:
            yield rec
        g.s[name] = g.s.get(name, 0.0) + rec["end"] - rec["start"]

    def seed_candidates(self) -> DataFrame:
        seeds = self.inputs.seeds
        if isinstance(seeds, DataFrame):
            return seeds.select("url", F.lit(0).cast("int").alias("depth"),
                                "parent_order", F.lit(0).cast("int").alias("pos"))
        rows = [(u.strip(), 0, i, 0) for i, u in enumerate(seeds) if u.strip()]
        return self.spark.createDataFrame(rows, CAND_SCHEMA)

    def key_expr(self, second: bool = False):
        base = canonicalize("url") if self.config.canonicalize else F.col("url")
        return F.xxhash64(base, F.lit(1)) if second else F.xxhash64(base)

    def run(self) -> None:
        cand = pin(self.seed_candidates())
        gen_lo, next_order = 0, 0
        n_seeds = cand.count()
        d = 0
        while True:
            g = Gen(d)
            self.gens.append(g)
            with self.tracer.span("gen", gen=d):
                frontier, n_enq = self.frontier_layers(
                    g, cand, gen_lo, next_order, n_seeds)
                if n_enq == 0:
                    break
                gen_lo, next_order = next_order, next_order + n_enq
                cand = self.fetch_layers(g, frontier)
            d += 1
        with self.tracer.span("gen", gen="resume"):
            g = Gen(-1)
            self.gens.append(g)
            with self.layer(g, "checkpoint.resume"):
                state = SnapshotStore(str(self.store_root)).resume(self.spark)
                seen_frames, cands, result_frames = state[0], state[1], state[2]
                g.n["resume_rows"] = sum(
                    f.count() for f in [*seen_frames, *result_frames,
                                        *([cands] if cands is not None else [])])

    def frontier_layers(self, g: Gen, cand, gen_lo, next_order, n_seeds):
        fp = self.config.seen_fingerprint
        n_cand = cand.count()
        g.n["candidates"] = n_cand
        keyed = (cand.withColumn("url", F.trim("url"))
                 .filter(F.col("url") != "")
                 .withColumn("url_key", self.key_expr()))
        if fp:
            keyed = keyed.withColumn("url_key2", self.key_expr(second=True))
        with self.layer(g, "key", n_cand):
            noop(keyed)
        keyed = pin(keyed)
        g.n["keyed"] = keyed.count()

        deduped = CrawlEngine.dedupe_candidates(keyed, fingerprint=fp)
        with self.layer(g, "dedup", g.n["keyed"]):
            noop(deduped)
        deduped = pin(deduped)
        g.n["deduped"] = deduped.count()

        prev = self.seen.filter(F.col("depth") < g.d)
        if fp:
            seen_keys = prev.select(F.col("url_key").alias("seen_key"),
                                    F.col("url_key2").alias("seen_key2"))
            cond = ((deduped["url_key"] == seen_keys["seen_key"])
                    & (deduped["url_key2"] == seen_keys["seen_key2"]))
        else:
            seen_keys = prev.select(F.col("url_key").alias("seen_key"),
                                    F.col("url").alias("seen_url"))
            cond = ((deduped["url_key"] == seen_keys["seen_key"])
                    & (deduped["url"] == seen_keys["seen_url"]))
        enqueued = deduped.join(seen_keys, cond, "left_anti")
        with self.layer(g, "antijoin", g.n["deduped"]):
            noop(enqueued)
        enqueued = pin(enqueued)
        n_enq = enqueued.count()
        g.n["enqueued"] = n_enq
        if n_enq == 0:
            return None, 0

        bounds = ((0, max(n_seeds, 1)) if g.d == 0
                  else (gen_lo, max(next_order, 1)))
        with self.layer(g, "order", n_enq):
            ordered, n_ord = assign_global_order_counted(
                enqueued, ["parent_order", "pos"], "discovery_order",
                start=next_order, bounds=bounds)
            noop(ordered)
        g.n["ordered"] = n_ord

        frontier = pin(self.seen.filter(F.col("depth") == g.d))
        g.n["frontier"] = frontier.count()
        if g.n["frontier"] != n_enq:
            self.problems.append(
                f"gen {g.d}: replay enqueued {n_enq}, crawl {g.n['frontier']}")
        if self.times(g, "checkpoint.local"):
            with self.layer(g, "checkpoint.local", g.n["frontier"]):
                frontier.localCheckpoint(eager=True)
        return frontier, n_enq

    def fetch_layers(self, g: Gen, frontier: DataFrame) -> DataFrame:
        config = self.config
        hosts = self._seed_hosts()
        pre = frontier
        if config.depth is not None:
            pre = pre.filter(F.col("depth") <= config.depth)
        pre = pin(pre.filter(domain_filter(config, hosts))
                  .withColumn("host", host_of("url")))
        g.n["validated"] = pre.count()
        if self.times(g, "robots.table"):
            self.robots_layers(g, pre)

        todo = pin(pre.join(self.fetched_keys, ["url", "depth"], "left_semi"))
        g.n["fetched"] = todo.count()
        fetched = self.inputs.transport.fetch(todo)
        with self.layer(g, "fetch", g.n["fetched"]):
            noop(fetched)
        fetched = pin(fetched)

        body, url = F.col("body"), F.col("url")
        parsed = fetched.withColumn(
            "parsed", F.when(body.isNotNull(), self.page_udf(body, url)))
        with self.layer(g, "parse.udf", g.n["fetched"]):
            noop(parsed)
        with self.layer(g, "parse.arrow", g.n["fetched"]):
            noop(fetched.withColumn(
                "echo", F.when(body.isNotNull(), identity_udf(body, url))))
        parsed = pin(parsed)
        stats = parsed.filter(body.isNotNull()).agg(
            F.count("*").alias("pages"),
            F.sum(F.size("parsed.spans")).alias("spans"),
            F.sum(F.length("body")).alias("bytes"),
            F.sum(F.size("parsed.links")).alias("links"),
        ).first()
        g.n.update({k: stats[k] or 0 for k in ("pages", "spans", "bytes", "links")})
        self.python_parse(g, parsed)

        slim = parsed.withColumn("has_body", body.isNotNull()).drop("body")
        links = (
            parsed.filter(body.isNotNull())
            .select(F.col("discovery_order").alias("parent_order"),
                    F.posexplode("parsed.links").alias("pos", "url"))
            .select("url", F.lit(g.d + 1).cast("int").alias("depth"),
                    "parent_order", F.col("pos").cast("int"))
        )
        with self.layer(g, "fanout", g.n["links"]):
            noop(links)
        links = pin(links)

        if self.times(g, "checkpoint.local"):
            with self.layer(g, "checkpoint.local", g.n["fetched"]):
                slim.localCheckpoint(eager=True)
            g.n["local_rows"] = g.n["frontier"] + g.n["fetched"]
        if self.times(g, "checkpoint.commit"):
            rows = g.n["frontier"] + g.n["fetched"] + g.n["links"]
            with self.layer(g, "checkpoint.commit", rows):
                self.store.commit(frontier, "frontier", g.d)
                self.store.commit(slim, "fetched", g.d)
                self.store.commit(links, "links", g.d)
                self.store.commit_meta(g.d, {"generation": g.d}, 0)
            g.n["commit_rows"] = rows
        return links

    def _seed_hosts(self) -> list[str]:
        from urllib.parse import urlparse

        if not self.config.domain_filter:
            return []
        return sorted({urlparse(u).netloc.lower() for u in self.inputs.seed_urls})

    def robots_layers(self, g: Gen, pre: DataFrame) -> None:
        scheme = F.lower(F.regexp_extract("url", r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))
        hosts = (pre.select("host", F.nullif(scheme, F.lit("")).alias("scheme"))
                 .groupBy("host").agg(F.max("scheme").alias("scheme")))
        known = None
        if self.robots_frames:
            known = self.robots_frames[0]
            for rf in self.robots_frames[1:]:
                known = known.unionByName(rf)
            hosts = hosts.join(known.select("host"), "host", "left_anti")
        with self.layer(g, "robots.table", g.n["validated"]):
            table = pin(robots_table(hosts, self.robots_transport))
        self.robots_frames.append(table)
        self.n_robots_hosts += table.count()
        robots_all = known.unionByName(table) if known is not None else table
        allowed = allowed_filter(pre, robots_all, n_hosts=self.n_robots_hosts)
        with self.layer(g, "robots.filter", g.n["validated"]):
            noop(allowed)
        g.n["robots_allowed"] = allowed.filter(F.col("robots_allowed")).count()

    def python_parse(self, g: Gen, parsed: DataFrame) -> None:
        sels = self.config.follow_selectors()
        sample = (parsed.filter(F.col("body").isNotNull())
                  .select("body", "url").limit(PY_PARSE_SAMPLE).toPandas())
        with self.layer(g, "parse.py", len(sample)):
            for html, origin in zip(sample["body"], sample["url"]):
                root = parse_html(html)
                spans_from_root(root)
                links_from_root(root, origin, sels)
        g.n["py_pages"] = len(sample)


def in_crawl(workload, inputs) -> set[str]:
    """Layers the workload's own crawl runs (the rest are what-ifs)."""
    out = {"key", "dedup", "antijoin", "order", "fetch", "parse.udf", "fanout"}
    if workload.snapshots:
        out |= {"checkpoint.commit", "checkpoint.resume"}
    else:
        out.add("checkpoint.local")
    if inputs.config.respect_robots:
        out |= {"robots.table", "robots.filter"}
    return out


@dataclass
class TraceRun:
    tracer: Tracer
    replay: Replay
    layers_in_crawl: set
    crawl_span: dict
    crawl_rec: dict
    untraced_crawl_s: float
    session: dict
    problems: list

    def finish(self, events_dir: Path, out_path: Path) -> tuple[dict, str]:
        """After the session stopped: read shuffle bytes from the event
        log, write the span file, build metrics and the layer table."""
        shuffle = shuffle_bytes_by_group(events_dir)
        for s in self.tracer.spans:
            s["shuffle_write_bytes"] = shuffle.get(s.get("group"), 0)
        self.tracer.write(out_path)
        return self.metrics(), self.table(out_path)

    def _tot(self, key: str) -> float:
        return sum(g.n.get(key, 0) for g in self.replay.gens)

    def _sec(self, layer: str) -> float:
        return sum(g.s.get(layer, 0.0) for g in self.replay.gens)

    def metrics(self) -> dict:
        tot, sec = self._tot, self._sec

        def per(layer, key):
            """Microseconds of ``layer`` per row counted under ``key``."""
            n = tot(key)
            return sec(layer) / n * 1e6 if n else 0.0

        crawl = self.crawl_span
        gens = max(self.crawl_rec["generations"], 1)
        layer_sum = sum(sec(k) for k in self.layers_in_crawl)
        checkpoint_bytes = _dir_bytes(self.replay.store_root)
        m = {
            "key.us_per_url": (per("key", "candidates"), "us"),
            "dedup.us_per_url": (per("dedup", "keyed"), "us"),
            "dedup.drop_ratio": (1 - tot("deduped") / tot("keyed")
                                 if tot("keyed") else 0.0, "ratio"),
            "antijoin.us_per_url": (per("antijoin", "deduped"), "us"),
            "antijoin.hit_ratio": (1 - tot("enqueued") / tot("deduped")
                                   if tot("deduped") else 0.0, "ratio"),
            "order.us_per_url": (per("order", "enqueued"), "us"),
            "fanout.us_per_link": (per("fanout", "links"), "us"),
            "frontier.jobs_per_gen": (crawl["jobs"] / gens, "count"),
            "frontier.tasks_per_gen": (crawl["tasks"] / gens, "count"),
            "frontier.stages_per_gen": (crawl["stages"] / gens, "count"),
            "frontier.shuffle_bytes_per_url": (
                crawl["shuffle_write_bytes"] / max(self.crawl_rec["n_seen"], 1),
                "B"),
            "fetch.us_per_page": (per("fetch", "fetched"), "us"),
            "parse.udf_us_per_page": (per("parse.udf", "fetched"), "us"),
            "parse.arrow_us_per_page": (per("parse.arrow", "fetched"), "us"),
            "parse.py_us_per_page": (per("parse.py", "py_pages"), "us"),
            "parse.spans_per_page": (tot("spans") / tot("pages")
                                     if tot("pages") else 0.0, "count"),
            "parse.bytes_per_page": (tot("bytes") / tot("pages")
                                     if tot("pages") else 0.0, "B"),
            "checkpoint.commit_us_per_row": (
                per("checkpoint.commit", "commit_rows"), "us"),
            "checkpoint.bytes_per_row": (
                checkpoint_bytes / tot("commit_rows")
                if tot("commit_rows") else 0.0, "B"),
            "checkpoint.resume_read_s": (sec("checkpoint.resume"), "s"),
            "checkpoint.local_us_per_row": (
                per("checkpoint.local", "local_rows"), "us"),
            "robots.table_s": (sec("robots.table"), "s"),
            "robots.filter_us_per_url": (per("robots.filter", "validated"), "us"),
            "robots.disallow_ratio": (1 - tot("robots_allowed") / tot("validated")
                                      if tot("validated") else 0.0, "ratio"),
            "session.start_s": (self.session["start_s"], "s"),
            "session.warmup_s": (self.session["warmup_s"], "s"),
            "trace.unattributed_s": (self.crawl_rec["crawl_s"] - layer_sum, "s"),
            "trace.overhead_ratio": (
                self.crawl_rec["crawl_s"] / self.untraced_crawl_s, "ratio"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def table(self, span_path: Path) -> str:
        """Per-layer rows in/out, self time and Spark work, summed over
        the replayed generations."""
        tr = self.tracer
        agg: dict[str, dict] = {}
        for s in tr.spans:
            if s["name"] not in LAYERS:
                continue
            a = agg.setdefault(s["name"], {"rows_in": 0, "self_s": 0.0,
                                           "jobs": 0, "stages": 0, "tasks": 0})
            a["rows_in"] += s.get("rows_in") or 0
            a["self_s"] += tr.self_s(s)
            for k in ("jobs", "stages", "tasks"):
                a[k] += s[k]
        outs = {"key": "keyed", "dedup": "deduped", "antijoin": "enqueued",
                "order": "ordered", "fetch": "fetched", "parse.udf": "pages",
                "fanout": "links", "robots.filter": "robots_allowed",
                "checkpoint.resume": "resume_rows"}
        lines = [f"{'layer':<20}{'module':<19}{'kind':<9}{'rows_in':>9}"
                 f"{'rows_out':>10}{'self_s':>9}{'jobs':>6}{'stages':>7}"
                 f"{'tasks':>7}"]
        for name, (module, replay) in LAYERS.items():
            a = agg.get(name)
            if a is None:
                continue
            kind = ("split" if name in PARSE_SPLIT
                    else "crawl" if name in self.layers_in_crawl else "what-if")
            if replay:
                kind += "*"
            out = self._tot(outs[name]) if name in outs else ""
            lines.append(
                f"{name:<20}{module:<19}{kind:<9}{a['rows_in']:>9}{out:>10}"
                f"{a['self_s']:>9.3f}{a['jobs']:>6}{a['stages']:>7}{a['tasks']:>7}")
        layer_sum = sum(self._sec(k) for k in self.layers_in_crawl)
        c = self.crawl_rec["crawl_s"]
        lines += [
            "kind: crawl = in the layer sum; what-if = a layer this crawl does "
            "not run; split = part of parse.udf; * = replay of engine "
            "expressions",
            f"traced crawl_s {c:.3f}  layer sum {layer_sum:.3f}  "
            f"trace.unattributed_s {c - layer_sum:.3f}  "
            f"trace.overhead_ratio {c / self.untraced_crawl_s:.3f}  "
            f"(untraced crawl_s {self.untraced_crawl_s:.3f})",
            f"crawl jobs {self.crawl_span['jobs']} stages "
            f"{self.crawl_span['stages']} tasks {self.crawl_span['tasks']} "
            f"shuffle_write_bytes {self.crawl_span['shuffle_write_bytes']}",
            f"spans: {span_path}",
        ]
        return "\n".join(lines)


def traced_run(spark, workload, inputs, expected, workdir: Path,
               untraced_crawl_s: float, session: dict, crawl_id: str,
               timed_crawl, verify) -> TraceRun:
    """One traced crawl (checked against the reference BFS), then the
    layer replays on its output."""
    tracer = Tracer(spark, crawl_id)
    with tracer.span("crawl", workload=workload.name) as crawl_span:
        rec = timed_crawl(spark, workload, inputs, workdir / "store",
                          tracer.group(crawl_span))
    problems = verify(expected, rec)
    replay = Replay(spark, tracer, workload, inputs, rec["outcome"].result,
                    workdir)
    with tracer.span("replay"):
        replay.run()
    return TraceRun(tracer, replay, in_crawl(workload, inputs), crawl_span,
                    rec, untraced_crawl_s, session,
                    problems + replay.problems)


def shuffle_bytes_by_group(events_dir: Path) -> dict[str, int]:
    """Shuffle bytes written per job group, from the event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, int] = {}
    for path in sorted(events_dir.iterdir()):
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    w = (ev.get("Task Metrics") or {}).get(
                        "Shuffle Write Metrics") or {}
                    if group:
                        out[group] = out.get(group, 0) + w.get(
                            "Shuffle Bytes Written", 0)
    return out

