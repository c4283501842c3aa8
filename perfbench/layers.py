"""Per-layer metrics of one traced crawl.

``LAYERS`` names every per-layer metric with the end-to-end metric and
workload it should move; units come from ``BENCHMARK.json``. A metric a
workload does not exercise (the issue report on ``resume_backlog``,
scaling on ``fixture_audit``) reads 0.
"""

from __future__ import annotations

import os

from spans import SELF_GROUP

MB = 2**20

FA, RB = "fixture_audit", "resume_backlog"
LAYERS = [
    # plans.crawl: the loop glue
    ("crawl.self_s", f"wave_p50_s, crawl_s on {FA}"),
    ("crawl.state_merge_s", f"wave_p50_s on {RB}"),
    ("crawl.prewave_s", f"crawl_s on {FA}"),
    ("crawl.finalize_s", f"crawl_s on {FA}"),
    ("crawl.jobs_per_wave", f"wave_p50_s on {FA}"),
    ("crawl.tasks_per_wave", f"wave_p50_s on {FA}"),
    ("crawl.actions_per_wave", f"wave_p50_s on {FA}"),
    ("crawl.cached_mb_left", f"peak_rss_mb on {RB} (engine caches left after an untraced crawl)"),
    # operators.frontier
    ("schedule.s", f"urls_per_s, wave_max_s on {RB}"),
    ("schedule.cpu_s", f"urls_per_s on {RB}"),
    ("schedule.rows_in", f"urls_per_s on {RB}"),
    ("schedule.rows_out", f"urls_per_s on {RB}"),
    ("schedule.accept_ratio", f"urls_per_s on {RB}"),
    ("schedule.shuffle_mb", f"wave_max_s on {RB}"),
    ("schedule.jobs", f"wave_p50_s on {FA}"),
    ("politeness.s", f"wave_p50_s on {RB}"),
    ("politeness.deferred", f"wave_p50_s on {RB}"),
    ("robots.compile_s", f"crawl_s on {FA}"),
    # operators.extract
    ("fetchmap.s", f"crawl_s on {FA}, pages_per_s on {RB}"),
    ("extract.s", f"pages_per_s on {RB}"),
    ("extract.cpu_s", f"pages_per_s on {RB}"),
    ("extract.docs_in", f"pages_per_s on {RB}"),
    ("extract.pages_out", f"pages_per_s on {RB}"),
    ("extract.retry_rows", f"pages_per_s on {RB}"),
    # storage.tableio
    ("tableio.commit_s", f"wave_p50_s on {RB}"),
    ("tableio.checkpoint_s", f"wave_p50_s on {RB}"),
    ("tableio.maint_s", f"wave_max_s on {RB}"),
    ("tableio.read_s", f"wave_p50_s on {RB}"),
    ("tableio.bytes_written_mb", f"wave_p50_s on {RB}"),
    ("tableio.write_amp", f"wave_p50_s on {RB}"),
    ("tableio.manifest_kb", f"wave_p50_s on {RB}"),
    ("tableio.ckpt_mb", f"scratch_peak_mb on {RB}"),
    # sources.sitemap
    ("sitemap.s", f"crawl_s on {FA}"),
    # operators.issues (the report, traced on fixture_audit)
    ("issues.s", f"report time on {FA}"),
    ("issues.per_page_s", f"report time on {FA}"),
    ("issues.link_graph_s", f"report time on {FA}"),
    ("issues.hreflang_s", f"report time on {FA}"),
    ("issues.sitemap_s", f"report time on {FA}"),
    ("issues.security_s", f"report time on {FA}"),
    ("issues.duplicates_s", f"report time on {FA}"),
    ("issues.rows_out", f"report time on {FA}"),
    ("issues.jobs", f"report time on {FA}"),
    # session: the Spark runtime
    ("spark.task_launches", f"peak_rss_mb, scratch_peak_mb on {RB}"),
    ("spark.gc_s", f"peak_rss_mb on {RB}"),
    ("spark.spill_mb", f"scratch_peak_mb on {RB}"),
    ("spark.shuffle_write_mb", f"scratch_peak_mb on {RB}"),
    ("trace.unattributed_jobs", "none: must read 0"),
    ("tracing_overhead_s", "none: the row counts only the tracer runs (the work it "
                           "materializes inside a span is the layer's own)"),
    ("scaling_eff", f"crawl_s on {RB} (its wave, local[1] to local[4]; mostly per-job "
                    "fixed cost at this size)"),
    ("calib_eff", "none: JVM calibration ceiling"),
    ("error_rate", "none: must read 0"),
]
# filled in by the run, after the traced crawl
RUN_LEVEL = ("crawl.cached_mb_left", "scaling_eff", "calib_eff", "error_rate")


def _dur(s):
    return s["end"] - s["start"]


def du(path):
    """Bytes of the files under ``path``; files may vanish meanwhile."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def per_layer_metrics(tracer, out, spark_info, wl):
    """Returns ({metric: value}, per-wave rows)."""
    spans = tracer.spans
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def named(*names):
        return [s for s in spans if s["name"] in names]

    def total(*names):
        return sum(_dur(s) for s in named(*names))

    def groups_under(*names):
        todo, out_ = list(named(*names)), set()
        while todo:
            s = todo.pop()
            out_.add(s["group"])
            todo += kids.get(s["id"], [])
        return out_

    jobs = spark_info["jobs"]

    def jobs_of(*names):
        g = groups_under(*names)
        return [j for j in jobs if j["group"] in g]

    def rows(name, i=0):
        return sum(s.get("rows", [0] * (i + 1))[i] for s in named(name))

    known = {s["group"] for s in spans} | {SELF_GROUP}
    crawl_jobs = [j for j in jobs if out.t0 <= j["ts"] <= out.t1]
    windows = tracer.wave_windows(out.result.lineage)
    n_waves = max(1, len(windows))
    top = [s for s in spans if s["parent"] is None]

    def covered(lo, hi):
        return sum(max(0.0, min(s["end"], hi) - max(s["start"], lo)) for s in top)

    def in_waves(ts):
        return any(lo <= ts <= hi for lo, hi in windows)

    wave_jobs = [j for j in crawl_jobs if in_waves(j["ts"])]
    m = {}
    m["crawl.self_s"] = sum((hi - lo) - covered(lo, hi) for lo, hi in windows)
    m["crawl.state_merge_s"] = total("crawl.state_merge")
    m["crawl.prewave_s"] = (windows[0][0] if windows else out.t1) - out.t0
    m["crawl.finalize_s"] = out.t1 - (windows[-1][1] if windows else out.t0)
    m["crawl.jobs_per_wave"] = len(wave_jobs) / n_waves
    m["crawl.tasks_per_wave"] = sum(j["tasks"] for j in wave_jobs) / n_waves
    m["crawl.actions_per_wave"] = sum(1 for ts in spark_info["executions"]
                                      if in_waves(ts)) / n_waves

    sched = jobs_of("frontier.schedule_wave")
    r_in = sum(s.get("rows_in", 0) for s in named("frontier.schedule_wave"))
    r_out = rows("frontier.schedule_wave")
    m["schedule.s"] = total("frontier.schedule_wave")
    m["schedule.cpu_s"] = sum(j["cpu_s"] for j in sched)
    m["schedule.rows_in"] = r_in
    m["schedule.rows_out"] = r_out
    m["schedule.accept_ratio"] = r_out / r_in if r_in else 0.0
    m["schedule.shuffle_mb"] = sum(j["shuffle_w"] for j in sched) / MB
    m["schedule.jobs"] = len(sched)
    m["politeness.s"] = total("frontier.apply_politeness")
    m["politeness.deferred"] = rows("frontier.apply_politeness", 1)
    m["robots.compile_s"] = total("frontier.compile_robots_rules")

    ext = ("extract.join_fetch", "extract.apply_size_gate", "extract.resolve_retries_inline",
           "extract.split_retries", "extract.extract_pages")
    m["fetchmap.s"] = total("extract.http_meta", "extract.resolve_redirects")
    m["extract.s"] = total(*ext)
    m["extract.cpu_s"] = sum(j["cpu_s"] for j in jobs_of(*ext))
    m["extract.docs_in"] = rows("extract.join_fetch")
    m["extract.pages_out"] = rows("extract.extract_pages")
    m["extract.retry_rows"] = rows("extract.split_retries", 1)

    writes = named("tableio.commit", "tableio.compact_small")
    written = sum(s.get("bytes", 0) for s in writes)
    data = sum(s.get("bytes", 0) for s in writes if s.get("table") in ("pages", "links"))
    m["tableio.commit_s"] = total("tableio.commit")
    m["tableio.checkpoint_s"] = total("tableio.checkpoint")
    m["tableio.maint_s"] = total("tableio.maintain")
    m["tableio.read_s"] = total("tableio.read")
    m["tableio.bytes_written_mb"] = written / MB
    m["tableio.write_amp"] = written / data if data else 0.0
    m["tableio.manifest_kb"] = sum(s.get("manifest_bytes", 0) for s in writes) / 1024
    ckpt = getattr(wl, "ckpt", None)
    m["tableio.ckpt_mb"] = du(ckpt) / MB if ckpt else 0.0

    m["sitemap.s"] = total("sitemap.bootstrap_df", "sitemap.bootstrap_urls")

    m["issues.s"] = total("issues.report")
    m["issues.per_page_s"] = total("issues.per_page_issues")
    m["issues.link_graph_s"] = total("issues.links_to_redirects", "issues.broken_link_sources")
    m["issues.hreflang_s"] = total("issues.hreflang_issues")
    m["issues.sitemap_s"] = total("issues.sitemap_issue_rows")
    m["issues.security_s"] = total("issues.security_header_issues",
                                   "issues.unsafe_cross_origin_issues")
    m["issues.duplicates_s"] = total("issues.duplicate_content_issues")
    m["issues.rows_out"] = rows("issues.report")
    m["issues.jobs"] = len(jobs_of("issues.report"))

    m["spark.task_launches"] = sum(j["tasks"] for j in crawl_jobs)
    m["spark.gc_s"] = sum(j["gc_s"] for j in crawl_jobs)
    m["spark.spill_mb"] = sum(j["spill"] for j in crawl_jobs) / MB
    m["spark.shuffle_write_mb"] = sum(j["shuffle_w"] for j in crawl_jobs) / MB
    m["trace.unattributed_jobs"] = sum(1 for j in jobs if j["group"] not in known)
    m["tracing_overhead_s"] = total("trace.rows_in") + sum(s.get("trace_s", 0.0) for s in spans)
    for name in RUN_LEVEL:
        m[name] = 0.0

    # per-wave table: state rows come from the state-merge checkpoints
    # (seen, pending, counts, traps in engine order)
    layer_of = {"frontier": "frontier", "extract": "extract", "tableio": "tableio",
                "crawl.state_merge": "state_merge"}
    wave_rows = []
    for k, (lo, hi) in enumerate(windows):
        lin = out.result.lineage[k]
        inside = [s for s in top if lo <= s["start"] <= hi]
        merge = [s for s in inside if s["name"] == "crawl.state_merge"]
        row = {"wave": lin["wave"],
               "seen": merge[0]["rows"][0] if len(merge) > 0 else None,
               "pending": merge[1]["rows"][0] if len(merge) > 1 else None,
               "fetched": lin["fetched"], "new": lin["new_frontier"],
               "wall_s": round(hi - lo, 3)}
        selfs = {v: 0.0 for v in layer_of.values()}
        for s in inside:
            key = next((v for p, v in layer_of.items()
                        if s["name"] == p or s["name"].startswith(p + ".")), None)
            if key:
                selfs[key] += _dur(s)
        selfs["crawl.self"] = (hi - lo) - covered(lo, hi)
        row.update({f"{k2}_s": round(v, 3) for k2, v in selfs.items()})
        wave_rows.append(row)
    assert set(m) == {n for n, _ in LAYERS}, set(m) ^ {n for n, _ in LAYERS}
    return {k: float(v) for k, v in m.items()}, wave_rows


def print_layers(workload, wave_rows, layers, units):
    if wave_rows:
        cols = list(wave_rows[0])
        print("  " + " ".join(f"{c:>13}" for c in cols))
        for r in wave_rows:
            print("  " + " ".join(f"{str(r[c]):>13}" for c in cols))
    moves = dict(LAYERS)
    for k, v in layers.items():
        print(f"{workload} {k} = {v:.4f} {units[k]}  -> {moves[k]}")
