"""Turn one run's calls and spans into the printed metrics and the trace file."""

from __future__ import annotations

import json
import os
from collections import defaultdict

from .harness import SiteMap, median, read_jobs, self_times

WRITE_ROLES = ("upsert", "merge", "delete")


def _m(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(rec, w, run: dict) -> dict:
    """Set-up time and what the calls cost in Spark work, bytes and memory.
    The calls' own times are per-layer metrics: on a shared host they
    spread more between runs than any bound these metrics may have."""
    return {
        "setup_s": _m(run["setup_s"], "s"),
        "spark_jobs_per_call": _m(run["spark_jobs"] / rec.calls, "count"),
        "spark_tasks_per_call": _m(run["spark_tasks"] / rec.calls, "count"),
        "read_scan_mb_p50": _m(median(w.scan_bytes["read"]) / 2**20, "MB"),
        "write_amp": _m(run["write_amp"], "ratio"),
        "space_amp": _m(run["space_amp"], "ratio"),
        "peak_rss_mb": _m(run["peak_rss_mb"], "MB"),
    }


def _totals(jobs: list[dict]) -> dict:
    return {
        "jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
        "output_bytes": sum(j["output_bytes"] for j in jobs),
    }


def _module_of(span_name: str) -> str:
    """The engine module behind a span, for jobs whose call site is not in
    engine code (parquet writes, for one): ``services.*`` is
    ``TableServices``, which lives in ``table``."""
    head, _, rest = span_name.partition(".")
    if head in ("table", "services"):
        return "table"
    if head == "sources":
        return "sources." + rest.split(".")[0]
    return head


def _summaries(spans: list[dict]) -> dict:
    """Per span kind (name, and table where one is named): medians per call."""
    groups = defaultdict(list)
    for s in spans:
        key = s["name"] + (f"@{s['table']}" if s.get("table") else "")
        groups[key].append(s)
    out = {}
    for key, ss in sorted(groups.items()):
        tot = [_totals(s["jobs"]) for s in ss]
        row = {
            "calls": len(ss),
            "s_p50": median([s["s"] for s in ss]),
            "self_s_p50": median([s["self_s"] for s in ss]),
            "s_total": sum(s["s"] for s in ss),
            "self_s_total": sum(s["self_s"] for s in ss),
        }
        for k in ("jobs", "tasks", "shuffle_bytes", "output_bytes"):
            row[k + "_p50"] = median([t[k] for t in tot])
        for k in ("files_added", "files_removed", "rows_rewritten_per_row", "entries", "scan_bytes"):
            if k in ss[0]:
                row[k + "_p50"] = median([s[k] for s in ss])
        out[key] = row
    return out


def _sites(spans: list[dict], only=None) -> dict:
    """Jobs per engine module (by recorded call site, else the enclosing
    span's module) and per engine function."""
    mods = defaultdict(lambda: {"jobs": 0, "tasks": 0, "s": 0.0})
    funcs = defaultdict(lambda: {"jobs": 0, "tasks": 0, "s": 0.0})
    for s in spans:
        if only is not None and not only(s):
            continue
        for j in s["jobs"]:
            mod = j["module"] or _module_of(s["name"])
            func = f"{mod}.{j['function']}" if j["module"] else f"{mod}.<jvm>"
            for d, key in ((mods, mod), (funcs, func)):
                d[key]["jobs"] += 1
                d[key]["tasks"] += j["tasks"]
                d[key]["s"] += j["s"]
    return {"modules": dict(mods), "functions": dict(funcs)}


def per_layer(spark, rec, w, run: dict, root: str) -> dict:
    spans = rec.spans
    read_jobs(spark, spans, SiteMap(root))
    self_times(spans)
    by_role = defaultdict(list)
    for s in spans:
        by_role[s.get("role")].append(s)
    ups, reads = by_role["upsert"], by_role["read"]
    cf = [s for s in spans if s["name"] == "table.current_files"]
    tabl = _sites(spans)["modules"].get("table", {"jobs": 0, "tasks": 0, "s": 0.0})
    commits = w.storage.commits
    cycles = run["cycles"]

    def med(ss, f):
        return median([f(s) for s in ss])

    def jobs(key):
        return lambda s: _totals(s["jobs"])[key]

    write_s = sum(sum(rec.samples[r]) for r in WRITE_ROLES)
    return {
        "calls_per_s": {"value": rec.calls / rec.busy, "unit": "1/s"},
        "rows_per_s": {"value": w.rows_written / write_s, "unit": "rows/s"},
        "session.build_session.s": {"value": run["session_s"], "unit": "s"},
        "table.upsert.s": {"value": med(ups, lambda s: s["s"]), "unit": "s"},
        "table.upsert.jobs": {"value": med(ups, jobs("jobs")), "unit": "count"},
        "table.upsert.tasks": {"value": med(ups, jobs("tasks")), "unit": "count"},
        "table.upsert.shuffle_bytes": {"value": med(ups, jobs("shuffle_bytes")), "unit": "B"},
        "table.upsert.output_bytes": {"value": med(ups, jobs("output_bytes")), "unit": "B"},
        "table.upsert.files_added": {"value": med(ups, lambda s: s["files_added"]), "unit": "count"},
        "table.upsert.files_removed": {"value": med(ups, lambda s: s["files_removed"]), "unit": "count"},
        "table.upsert.rows_rewritten_per_row": {
            "value": med(ups, lambda s: s["rows_rewritten_per_row"]), "unit": "ratio"},
        "read.s": {"value": med(reads, lambda s: s["s"]), "unit": "s"},
        "read.jobs": {"value": med(reads, jobs("jobs")), "unit": "count"},
        "read.tasks": {"value": med(reads, jobs("tasks")), "unit": "count"},
        "read.scan_bytes": {"value": med(reads, lambda s: s["scan_bytes"]), "unit": "B"},
        "read.read_frac": {"value": med(reads, lambda s: s["scan_bytes"] / s["live_bytes"]), "unit": "ratio"},
        "table.current_files.s": {"value": med(cf, lambda s: s["s"]), "unit": "s"},
        "table.current_files.entries": {"value": med(cf, lambda s: s["entries"]), "unit": "count"},
        "site.table.jobs": {"value": tabl["jobs"] / cycles, "unit": "count"},
        "site.table.tasks": {"value": tabl["tasks"] / cycles, "unit": "count"},
        "site.table.s": {"value": tabl["s"] / cycles, "unit": "s"},
        "storage.bytes_written": {"value": median([c["bytes_written"] for c in commits]), "unit": "B"},
        "storage.files_written": {"value": median([c["files_written"] for c in commits]), "unit": "count"},
        "storage.manifest_bytes": {"value": median([c["manifest_bytes"] for c in commits]), "unit": "B"},
        "storage.disk_bytes": {"value": run["disk_bytes"], "unit": "B"},
    }


def write_trace(out_dir: str, rec, w, run: dict, metrics: dict) -> str:
    """Spans, per-span-kind medians, per-module and per-function job
    attribution (overall and within the role-``upsert`` calls) and the
    run's figures, as one JSON file."""
    os.makedirs(out_dir, exist_ok=True)
    spans = rec.spans
    n_up = sum(1 for s in spans if s.get("role") == "upsert")
    per_upsert = _sites(spans, lambda s: s.get("role") == "upsert")
    doc = {
        "run": run,
        "per_layer": metrics,
        "span_kinds": _summaries(spans),
        "sites": _sites(spans),
        "sites_per_upsert": {
            sec: {k: {f: v / n_up for f, v in d.items()} for k, d in rows.items()}
            for sec, rows in per_upsert.items()
        },
        "spans": [
            {k: v for k, v in s.items() if k != "jobs"}
            | {"jobs": [{k: j[k] for k in ("id", "call_site", "s", "tasks")} for j in s["jobs"]]}
            for s in spans
        ],
    }
    path = os.path.join(out_dir, f"{run['workload']}-{run['seed']}.json")
    with open(path, "w") as f:
        f.write(dumps(doc))
    return path


def dumps(doc: dict) -> str:
    """Indented JSON with one line per span."""
    head = json.dumps({k: v for k, v in doc.items() if k != "spans"}, indent=1, default=str)
    spans = ",\n".join("  " + json.dumps(s, default=str) for s in doc["spans"])
    return head[:-2] + ',\n "spans": [\n' + spans + "\n ]\n}\n"
