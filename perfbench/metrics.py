"""Turns one harness run's raw record into the benchmark's metrics.

The end-to-end metrics of BENCHMARK.json are named for what a user of
every workload sees (the workload's own op, its read path, its cost per
input row). This
module maps each to the workload-specific figure it stands for, e.g.
`op_alloc_mb` is `tick_alloc_mb` on cdc_replicate; METRICS.md has the table.
"""

import json
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH_RE = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")

# Percentiles a tail may take, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

# Per workload: the raw op behind `op_*` and `read_*`, and the raw value
# behind each rate, quality and storage metric, with its unit.
WORKLOADS = {
    "cdc_replicate": {
        "op": "tick", "read": "query", "rate": ("capture_alloc_kb_per_row", "KB/row"),
        "quality": ("visible_frac", "ratio"), "stored": ("stored_bytes_per_row", "B/row"),
    },
    "corpus_maintain": {
        "op": "fold", "read": "probe", "rate": ("pass_alloc_kb_per_doc", "KB/doc"),
        "quality": ("recall_at_10", "ratio"), "stored": ("index_bytes_per_vector", "B/vector"),
    },
    # the two halves of corpus_maintain, runnable alone
    "curation_batch": {
        "op": "pass", "read": "topk", "rate": ("pass_alloc_kb_per_doc", "KB/doc"),
        "quality": ("dup_recall", "ratio"), "stored": ("curated_bytes_per_doc", "B/doc"),
    },
    "vector_maintain": {
        "op": "fold", "read": "probe", "rate": ("fold_alloc_kb_per_row", "KB/row"),
        "quality": ("recall_at_10", "ratio"), "stored": ("index_bytes_per_vector", "B/vector"),
    },
}


def tail(samples):
    """The highest percentile of TAIL_LADDER with at least ten samples
    beyond it (nearest rank), as (percentile, value); None when there are
    fewer than twenty samples."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_LADDER:
        rank = math.ceil(p * n / 100.0 - 1e-9)  # nearest rank, free of float residue
        if rank >= 1 and n - rank >= 10:
            return p, xs[rank - 1]
    return None


def median(samples):
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return None
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def check_name(name, what):
    if not isinstance(name, str) or not NAME_RE.match(name):
        raise ValueError(f"{what}: invalid name {name!r}")


def load_spec(path):
    """Read BENCHMARK.json and check it against the benchmark contract."""
    with open(path) as fh:
        text = fh.read()
    if len(text.encode()) > 64 * 1024:
        raise ValueError("BENCHMARK.json is larger than 64 KiB")
    spec = json.loads(text)
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(spec) != keys:
        raise ValueError(f"BENCHMARK.json keys {sorted(spec)} != {sorted(keys)}")
    cmd = spec["command"]
    if not (isinstance(cmd, list) and 1 <= len(cmd) <= 32 and
            all(isinstance(c, str) and len(c) <= 200 for c in cmd)):
        raise ValueError("command must be a list of at most 32 strings of at most 200 chars")
    paths = spec["paths"]
    if not (isinstance(paths, list) and 1 <= len(paths) <= 16):
        raise ValueError("paths must list 1 to 16 directories")
    for p in paths + [c for c in cmd if "/" in c]:
        if not PATH_RE.match(p) or p.startswith("/") or ".." in p.split("/"):
            raise ValueError(f"bad path {p!r}")
    rs = spec["run_seconds"]
    if not (isinstance(rs, int) and 1 <= rs <= 60):
        raise ValueError("run_seconds must be a whole number from 1 to 60")
    wl = spec["workloads"]
    if not 2 <= len(wl) <= 8:
        raise ValueError("2 to 8 workloads")
    for w in wl:
        if set(w) != {"name", "why"} or "\n" in w["why"] or len(w["why"]) > 200:
            raise ValueError(f"bad workload {w!r}")
        check_name(w["name"], "workload")
    e2e, pl = spec["end_to_end"], spec["per_layer"]
    if not 1 <= len(e2e) <= 16 or not 1 <= len(pl) <= 128:
        raise ValueError("1-16 end_to_end and 1-128 per_layer metrics")
    for m in e2e:
        if set(m) != {"name", "unit", "better", "bound"}:
            raise ValueError(f"bad end_to_end metric {m!r}")
        if not (isinstance(m["bound"], (int, float)) and 0 < m["bound"] <= 0.25):
            raise ValueError(f"bound of {m['name']} must be in (0, 0.25]")
    for m in pl:
        if set(m) != {"name", "unit", "better"}:
            raise ValueError(f"bad per_layer metric {m!r}")
    names = [w["name"] for w in wl] + [m["name"] for m in e2e + pl]
    for m in e2e + pl:
        check_name(m["name"], "metric")
        if not UNIT_RE.match(m["unit"]) or m["better"] not in ("higher", "lower"):
            raise ValueError(f"bad unit/better on {m['name']}")
    if len(set(names)) != len(names):
        raise ValueError("a name is used twice")
    setup = [m for m in e2e if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or setup[0]["better"] != "lower":
        raise ValueError("setup_s (s, lower) is required")
    if setup[0]["bound"] < max(m["bound"] for m in e2e):
        raise ValueError("setup_s must carry the largest bound")
    return spec


def summarize(spec, raw, traced, bare=None):
    """Returns (result, report_lines): the contract's result object and one
    human-readable line per metric, under workload-specific names. `bare`
    is the untraced run of the same seed, for the tracing overhead."""
    wl = raw["workload"]
    m = WORKLOADS[wl]
    ops = raw["ops"]
    report = []
    attempted = sum(o["attempted"] for o in ops.values())
    failed = sum(o["failed"] for o in ops.values())
    wrong = sum(o["wrong"] for o in ops.values())
    checks_ok = all(c["ok"] for c in raw["checks"])
    for c in raw["checks"]:
        if not c["ok"]:
            report.append(f"check FAILED {c['name']}: {c['detail']}")
    report.append(f"checks {sum(c['ok'] for c in raw['checks'])}/{len(raw['checks'])} passed; "
                  f"ops attempted {attempted}, failed {failed}, wrong output {wrong}")

    e2e = {}

    def put(generic, own, value, unit, n=None, pct=None):
        note = f" (n={n}" + (f", p{pct:g}" if pct is not None else "") + ")" if n is not None else ""
        report.append(f"{wl} {own} = {value} {unit}{note}" +
                      (f"   [{generic}]" if generic else ""))
        if generic:
            e2e[generic] = value

    parts = raw["setup_s"]
    for part, xs in parts.items():
        put(None, f"setup_s.{part}", median(xs), "s", n=len(xs))
    put("setup_s", "setup_s", sum(median(xs) for xs in parts.values()), "s")
    put(None, "ops_failed_frac", failed / attempted if attempted else 0.0, "failed/attempted")
    put("peak_heap_mb", "peak_heap_mb", raw["peak_heap_mb"], "MB")
    generic = {m["op"]: "op", m["read"]: "read"}
    for key, o in ops.items():
        lat = o["lat"]
        g = generic.get(key)
        put(None, f"{key}_p50_s", median(lat), "s", n=len(lat))
        t = tail(lat)
        put(None, f"{key}_tail_s", t and t[1], "s", n=len(lat), pct=t and t[0])
        cpu = o["cpu"]
        put(None, f"{key}_cpu_s", sum(cpu) / len(cpu) if cpu else None, "s", n=len(cpu))
        alloc = o["alloc"]
        put(g and f"{g}_alloc_mb", f"{key}_alloc_mb",
            sum(alloc) / len(alloc) / 2**20 if alloc else None, "MB", n=len(alloc))
    for g, (key, unit) in (("alloc_kb_per_row", m["rate"]), ("quality", m["quality"]),
                           ("stored_bytes_per_row", m["stored"])):
        put(g, key, raw["values"].get(key), unit)
    for key, v in raw["values"].items():
        if key not in (m["rate"][0], m["quality"][0], m["stored"][0]):
            put(None, key, v, "")
    for k, v in raw["counts"].items():
        report.append(f"{wl} count {k} = {v}")

    if traced:
        wanted = spec["per_layer"]
        metrics_out = {}
        for pm in wanted:
            v = raw["layers"].get(pm["name"], 0.0)
            metrics_out[pm["name"]] = {"value": v, "unit": pm["unit"]}
        for name, key in (("trace.overhead_frac", m["op"]),
                          ("trace.overhead_frac_read", m["read"])):
            traced_p50 = median(ops.get(key, {}).get("lat", []))
            bare_p50 = median(bare["ops"].get(key, {}).get("lat", [])) if bare else None
            if traced_p50 is None or bare_p50 is None:
                report.append(f"{wl} {name}: no untraced run of this seed and source to "
                              "compare with; reported as 0")
                overhead = 0.0
            else:
                overhead = traced_p50 / bare_p50 - 1.0
            if name in metrics_out:
                metrics_out[name]["value"] = overhead
            report.append(f"{wl} {name} = {overhead}")
        for k, v in sorted(raw["layers"].items()):
            report.append(f"{wl} layer {k} = {v}")
        for site, x in sorted(raw.get("sites", {}).items(), key=lambda kv: -kv[1]["job_s"]):
            report.append(f"{wl} site {x['module']:<24} jobs {x['jobs']:8.2f}  "
                          f"job_s {x['job_s']:8.3f}  {site}")
    else:
        units = {x["name"]: x["unit"] for x in spec["end_to_end"]}
        metrics_out = {}
        for x in spec["end_to_end"]:
            v = e2e.get(x["name"])
            if v is None:
                raise ValueError(f"{wl}: end-to-end metric {x['name']} has no value")
            metrics_out[x["name"]] = {"value": v, "unit": units[x["name"]]}
    result = {"correct": bool(checks_ok and wrong == 0), "attempted": int(attempted),
              "failed": int(failed), "metrics": metrics_out}
    return result, report
