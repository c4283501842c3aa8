"""Span tracer for one crawl, built from the benchmark's side.

``Tracer.patched()`` replaces the public layer functions the engine
looks up through module attributes at call time (``FR.*``, ``X.*``,
``TableIO.*``, the sitemap bootstrap, the issue detectors and
``DataFrame.localCheckpoint``) with wrappers. Each wrapper

- sets a Spark job group named after its span,
- records name, start, end and parent span,
- persists and counts every DataFrame it returns, inside the span, so
  lazy work runs under the layer that defined it; the time of the
  counts, work only the tracer adds, is the span's ``trace_s``,
- restores the enclosing group on exit.

Work outside any span runs in the ``crawl.self`` group.
``collect_spark()`` reads jobs, stages and SQL executions from the status stores afterwards
and attributes them by group; the engine's own wave clock (its two
``time.time()`` calls per wave) gives the wave windows.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time

SELF_GROUP = "crawl.self"


class _WaveClock:
    """Stands in for the ``time`` module inside ``plans.crawl``: returns
    real time and remembers every reading."""

    def __init__(self, real):
        self._real = real
        self.marks: list[float] = []

    def time(self):
        t = self._real.time()
        self.marks.append(t)
        return t

    def __getattr__(self, name):
        return getattr(self._real, name)


def _seq(x):
    """Python list from a Scala Seq or a Java List."""
    try:
        return list(x)
    except TypeError:
        return [x.apply(i) for i in range(x.length())]


def _is_df(x):
    from pyspark.sql import DataFrame

    return isinstance(x, DataFrame)


def _table_of(args):
    """(TableIO, table name) for a TableIO method call, else None."""
    if not args or not hasattr(args[0], "snapshots"):
        return None
    name = next((a for a in args[1:] if isinstance(a, str)), None)
    return (args[0], name) if name else None


def _record_write(span, tio, name, sid):
    """Bytes of the data files and manifest a new snapshot added."""
    m = tio._manifest(name, sid)
    prev = set(tio._manifest(name, m["parent"])["files"]) \
        if m.get("parent") is not None and m["mode"] != "overwrite" else set()
    span["table"] = name
    span["bytes"] = sum(os.path.getsize(p) for p in m["files"] if p not in prev)
    span["manifest_bytes"] = os.path.getsize(
        os.path.join(tio._snapdir(name), f"v{sid:06d}.json"))


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.clock = None
        self.t_start = self.t_end = None

    # ----------------------------------------------------------- wrapping
    def _group(self):
        return self.stack[-1]["group"] if self.stack else SELF_GROUP

    def _begin(self, name):
        span = {"id": len(self.spans), "name": name,
                "parent": self.stack[-1]["id"] if self.stack else None,
                "group": f"span-{len(self.spans)}"}
        self.spans.append(span)
        self.stack.append(span)
        self.sc.setJobGroup(span["group"], name)
        span["start"] = time.time()
        return span

    def _end(self, span):
        span["end"] = time.time()
        self.stack.pop()
        self.sc.setJobGroup(self._group(), self._group())

    def _materialize(self, span, out):
        rows = []

        def one(x):
            if _is_df(x):
                # an eager local checkpoint, not persist(): a persisted
                # frame keeps its plan, and the SQL listener's plan string
                # then repeats every upstream cached plan at each level
                x = self._checkpoint(x, True)
                rows.append(self._count(span, x))
            return x

        out = tuple(one(x) for x in out) if isinstance(out, tuple) else one(out)
        if rows:
            span["rows"] = rows
        return out

    @staticmethod
    def _count(span, df):
        """Row count the tracer adds; its time is the span's ``trace_s``."""
        t0 = time.time()
        n = df.count()
        span["trace_s"] = span.get("trace_s", 0.0) + time.time() - t0
        return n

    def wrap(self, name, fn, materialize=True, rows_in=None, writes=False):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if rows_in is not None:
                s = tracer._begin("trace.rows_in")
                try:
                    n_in = args[rows_in].count()
                finally:
                    tracer._end(s)
            span = tracer._begin(name)
            if rows_in is not None:
                span["rows_in"] = n_in
            table = _table_of(args) if writes else None
            before = table[0].snapshots(table[1]) if table else None
            try:
                out = fn(*args, **kwargs)
                if materialize:
                    out = tracer._materialize(span, out)
                if table and isinstance(out, int) and out >= 0 and out not in before:
                    _record_write(span, *table, out)
                return out
            finally:
                tracer._end(span)

        return wrapper

    def _local_checkpoint(self, orig):
        tracer = self

        def localCheckpoint(df, eager=True, *a, **k):
            caller = sys._getframe(1).f_globals.get("__name__", "")
            name = "crawl.state_merge" if caller.endswith("plans.crawl") else "spark.localCheckpoint"
            span = tracer._begin(name)
            try:
                out = orig(df, eager, *a, **k)
                span["rows"] = [tracer._count(span, out)]
                return out
            finally:
                tracer._end(span)

        return localCheckpoint

    @contextlib.contextmanager
    def patched(self):
        """Install every wrapper for the duration of one traced crawl."""
        from librecrawl_spark.operators import extract as X, frontier as FR, issues as I
        from librecrawl_spark.plans import crawl as C
        from librecrawl_spark.storage.tableio import TableIO

        df_cls = type(self.spark.range(1))
        targets = [
            (FR, "schedule_wave", "frontier.schedule_wave", dict(rows_in=0)),
            (FR, "apply_politeness", "frontier.apply_politeness", {}),
            (FR, "compile_robots_rules", "frontier.compile_robots_rules", {}),
            (X, "http_meta", "extract.http_meta", {}),
            (X, "resolve_redirects", "extract.resolve_redirects", {}),
            (X, "join_fetch", "extract.join_fetch", {}),
            (X, "apply_size_gate", "extract.apply_size_gate", {}),
            (X, "resolve_retries_inline", "extract.resolve_retries_inline", {}),
            (X, "split_retries", "extract.split_retries", {}),
            (X, "extract_pages", "extract.extract_pages", {}),
            (TableIO, "commit", "tableio.commit", dict(writes=True)),
            (TableIO, "checkpoint", "tableio.checkpoint", {}),
            (TableIO, "compact_small", "tableio.compact_small", dict(writes=True)),
            (TableIO, "expire_snapshots", "tableio.expire_snapshots", {}),
            (TableIO, "read", "tableio.read", {}),
            (TableIO, "gc_to", "tableio.gc_to", {}),
            (C.CrawlEngine, "_maintain", "tableio.maintain", {}),
            (C.CrawlEngine, "_sitemap_bootstrap_df", "sitemap.bootstrap_df", {}),
            (C.CrawlEngine, "_bootstrap_urls", "sitemap.bootstrap_urls", {}),
            (C.CrawlEngine, "_finalize", "crawl.finalize", dict(materialize=False)),
            (I, "detect_all_issues", "issues.detect_all_issues", {}),
            (I, "per_page_issues", "issues.per_page_issues", {}),
            (I, "links_to_redirects", "issues.links_to_redirects", {}),
            (I, "broken_link_sources", "issues.broken_link_sources", {}),
            (I, "hreflang_issues", "issues.hreflang_issues", {}),
            (I, "sitemap_issue_rows", "issues.sitemap_issue_rows", {}),
            (I, "security_header_issues", "issues.security_header_issues", {}),
            (I, "unsafe_cross_origin_issues", "issues.unsafe_cross_origin_issues", {}),
            (I, "duplicate_content_issues", "issues.duplicate_content_issues", {}),
        ]
        saved = [(owner, attr, owner.__dict__[attr]) for owner, attr, _, _ in targets]
        self._checkpoint = df_cls.__dict__["localCheckpoint"]
        saved.append((df_cls, "localCheckpoint", self._checkpoint))
        saved.append((C, "time", C.time))
        try:
            for owner, attr, name, kw in targets:
                setattr(owner, attr, self.wrap(name, owner.__dict__[attr], **kw))
            df_cls.localCheckpoint = self._local_checkpoint(self._checkpoint)
            self.clock = _WaveClock(C.time)
            C.time = self.clock
            self.sc.setJobGroup(SELF_GROUP, SELF_GROUP)
            self.t_start = time.time()
            yield self
        finally:
            self.t_end = time.time()
            for owner, attr, orig in saved:
                setattr(owner, attr, orig)
            self.sc.setJobGroup("untraced", "untraced")

    def span(self, name):
        """A span around benchmark code."""
        tracer = self

        @contextlib.contextmanager
        def cm():
            s = tracer._begin(name)
            try:
                yield s
            finally:
                tracer._end(s)

        return cm()

    # ----------------------------------------------------------- analysis
    def wave_windows(self, lineage) -> list[tuple[float, float]]:
        """Match each lineage wall time to a pair of wave-clock readings."""
        marks = self.clock.marks if self.clock else []
        out, lo = [], 0
        for w in lineage:
            found = None
            for j in range(lo, len(marks)):
                for i in range(j - 1, lo - 1, -1):
                    if round((marks[j] - marks[i]) * 1000, 1) == w["wall_ms"]:
                        found = (i, j)
                        break
                if found:
                    break
            if not found:
                return []
            out.append((marks[found[0]], marks[found[1]]))
            lo = found[1] + 1
        return out

    def collect_spark(self) -> dict:
        """Jobs, stages and SQL executions the traced crawl ran."""
        sc, jvm = self.sc, self.sc._jvm
        store = sc._jsc.sc().statusStore()
        t0, t1 = self.t_start * 1000, self.t_end * 1000
        stages = {}
        for sd in _seq(store.stageList(None, False, False,
                                       sc._gateway.new_array(jvm.double, 0), None)):
            st = stages.setdefault(sd.stageId(), {
                "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                "shuffle_w": 0, "spill": 0})
            st["tasks"] += sd.numTasks() if str(sd.status()) != "SKIPPED" else 0
            st["run_s"] += sd.executorRunTime() / 1000.0
            st["cpu_s"] += sd.executorCpuTime() / 1e9
            st["gc_s"] += sd.jvmGcTime() / 1000.0
            st["shuffle_w"] += sd.shuffleWriteBytes()
            st["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        jobs, claimed = [], set()
        for jd in sorted(_seq(store.jobsList(None)), key=lambda j: j.jobId()):
            sub = jd.submissionTime()
            ts = sub.get().getTime() if sub.isDefined() else None
            if ts is None or not (t0 <= ts <= t1):
                continue
            grp = jd.jobGroup()
            # a stage a later job reuses (skipped there) counts once, for
            # the job that ran it
            sids = [sid for sid in _seq(jd.stageIds()) if sid not in claimed]
            claimed.update(sids)
            job = {"id": jd.jobId(), "ts": ts / 1000.0,
                   "group": grp.get() if grp.isDefined() else None,
                   "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                   "shuffle_w": 0, "spill": 0}
            for sid in sids:
                for k, v in stages.get(sid, {}).items():
                    job[k] += v
            job["stages"] = len(sids)
            jobs.append(job)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = []
        for e in _seq(sql.executionsList()):
            ts = e.submissionTime()
            if t0 <= ts <= t1 and e.rootExecutionId() == e.executionId() \
                    and e.jobs().size() > 0:
                execs.append(ts / 1000.0)
        return {"jobs": jobs, "executions": execs}

    def dump(self, path: str, extra: list[dict]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
            for r in extra:
                fh.write(json.dumps(r) + "\n")
