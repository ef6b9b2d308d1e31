#!/usr/bin/env python3
"""Graphite-path benchmark: `/render` and `/metrics/find` over loopback
against `bgutil web`, and carbon plaintext into `bgutil carbon`.

Run from the root of a checkout:

    python3 gbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object
(`correct`, `attempted`, `failed`, `metrics`). Lines before it name every
metric with its unit, the provenance of the run and every failed
operation. A full record of the run goes to `.bench_build/results/`
(or `--out`), which `gbench/compare.py` reads. See gbench/README.md.
"""

import argparse
import hashlib
import http.client
import json
import os
import random
import re
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")

# ---- layout -----------------------------------------------------------------

NOW = 1789948800  # pinned render instant: a whole day, so every grid aligns
KINDS = ["cpu", "load", "mem", "disk", "netin", "netout", "requests",
         "errors", "latency", "queue"]
COUNTERS = {"netin", "netout", "requests", "errors"}
RET_A = "1440*60s:720*3600s"   # even hosts: 1 d of 60 s, 30 d of 1 h
RET_B = "2880*30s:168*3600s"   # odd hosts: 1 d of 30 s, 7 d of 1 h
RET_INGEST = "1440*60s:720*3600s"
P = 1000003

# (sources S, hosts H) of the seeded store; (S, H, backlog steps,
# points/s) of ingest. `smoke` is the benchmark's own test size.
SIZES = {
    "full": {"seeded": (4, 4), "ingest": (5, 10, 20, 2000)},
    "smoke": {"seeded": (2, 4), "ingest": (2, 4, 20, 400)},
}

END_TO_END = {  # name -> unit; every workload reports all of them
    "setup_s": "s", "latency_p50_ms": "ms", "throughput_per_s": "1/s",
    "store_bytes_per_point": "B",
}
# Each workload's user waits on a different operation, so the two
# headline metrics read the figure that matters to it (and scaled).
HEADLINE = {
    "dashboard": {"latency_p50_ms": ("render_p50_ms", 1),
                  "throughput_per_s": ("render_rps", 1)},
    "wide": {"latency_p50_ms": ("render_p50_ms", 1),
             "throughput_per_s": ("scan_points_per_s", 1)},
    "ingest": {"latency_p50_ms": ("ingest_visible_p50_s", 1000),
               "throughput_per_s": ("ingest_catchup_points_per_s", 1)},
}
WORKLOAD_ONLY = {  # reported where the workload measures them
    "render_p50_ms": "ms", "render_p90_ms": "ms", "render_rps": "req/s",
    "find_p50_ms": "ms", "scan_points_per_s": "points/s",
    "ingest_catchup_points_per_s": "points/s", "ingest_visible_p50_s": "s",
    "ingest_visible_p90_s": "s", "error_rate": "ratio",
}
PER_LAYER = {
    "bgweb.serialize_ms": "ms", "bgweb.response_bytes": "B",
    "rendertarget.parse_ms": "ms", "rendertarget.functions_ms": "ms",
    "bgutil.hot_overlay_ms": "ms", "bgutil.spool_files": "count",
    "find.ms": "ms", "find.metrics_matched": "count",
    "find.catalog_rows_read": "rows", "find.rows_read_per_match": "ratio",
    "fetch.ms": "ms", "fetch.files": "count", "fetch.rows_read": "rows",
    "fetch.bytes_read": "B", "fetch.rows_read_per_point_returned": "ratio",
    "reader.self_ms": "ms", "reader.shuffle_bytes": "B",
    "spark.jobs_per_request": "count", "spark.stages_per_request": "count",
    "spark.tasks_per_request": "count",
    "spark.executor_run_ms_per_request": "ms",
    "spark.executor_cpu_ms_per_request": "ms",
    "spark.shuffle_bytes_per_request": "B",
    "spark.driver_only_ms_per_request": "ms",
    "carbon.send_ms": "ms", "carbon.spool_backlog_files_max": "count",
    "carbon.spool_backlog_files_mean": "count",
    "ingest.trigger_ms": "ms", "ingest.add_batch_ms": "ms",
    "ingest.query_planning_ms": "ms", "ingest.get_batch_ms": "ms",
    "ingest.wal_commit_ms": "ms", "ingest.commit_offsets_ms": "ms",
    "ingest.rows_per_batch": "rows", "ingest.batches": "count",
    "ingest.state_rows": "rows", "ingest.state_memory_bytes": "B",
    "store.files": "count", "store.files_per_bucket": "count",
    "store.bytes_written_per_point": "B", "catalog.commits": "count",
    "catalog.metrics": "count", "setup.seed_write_ms": "ms",
    "setup.catalog_commit_ms": "ms", "setup.warmup_ms": "ms",
    "trace.http_p50_ms": "ms", "trace.untraced_p50_ms": "ms",
    "trace.overhead_ms": "ms",
}

# The JVM flags spark-submit would add on JDK 17 (the program's build
# passes the same list to forked runs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]]
HEAP = "3g"


def fail(msg):
    print(f"gbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---- values and the read planner: the oracle's half of the contract -------

def value(seed, mi, counter, ts):
    """The seeded value of metric index `mi` at `ts`; integer arithmetic so
    it matches `Harness.valueExpr` bit for bit."""
    step = ts // 30
    h1 = (step * 7919 + mi * 104729 + seed * 1299709) % P
    h2 = (h1 * 48271 + 12345) % P
    if counter:
        rate = 100 + mi % 900
        return float((step % 2880) * rate + h2 % rate)
    return ((mi * 37) % 200 * 100 + h2 % 5000) / 100.0


def stages(ret):
    """"1440*60s:720*3600s" -> [(1440, 60), (720, 3600)]"""
    return [(int(s.split("*")[0]), int(s.split("*")[1][:-1]))
            for s in ret.split(":")]


def round_up(t, prec):
    return t if t % prec == 0 else (t // prec + 1) * prec


def plan(ret, start, end, now, mdp):
    """`TimeSeriesReader.planConsolidated` over `Retention.alignTimeWindow`:
    (aligned start, end, (points, precision), step)."""
    sts = stages(ret)
    st = next((s for s in sts if now - s[0] * s[1] <= start), sts[-1])
    pts, prec = st
    s = start // prec * prec
    if s < now - pts * prec:
        s = (now - pts * prec) // prec * prec
    e = max(min(round_up(end, prec), round_up(now, prec)), s)
    n = (e - s) // prec
    step = prec if mdp <= 0 or n <= mdp else prec * ((n + mdp - 1) // mdp)
    return s, e, st, step


class Store:
    """What the generator knows about a store: per metric name its index,
    retention and whether it is a counter, and which stage slots hold which
    value — every slot of every stage for a seeded store, the stage0 slots
    actually sent for an ingest store (`sent`)."""

    def __init__(self, seed):
        self.seed = seed
        self.metrics = {}  # name -> (mi, retention, counter)
        self.sent = None   # ingest: name -> {ts: value} actually sent

    def add(self, name, mi, ret, counter):
        self.metrics[name] = (mi, ret, counter)

    def stored(self, name, st, ts):
        """Value stored at stage `st` slot `ts`, or None."""
        mi, ret, counter = self.metrics[name]
        if self.sent is not None:
            if st == stages(ret)[0]:
                return self.sent.get(name, {}).get(ts)
            return None
        pts, prec = st
        if NOW - pts * prec <= ts < NOW and ts % prec == 0:
            return value(self.seed, mi, counter, ts)
        return None

    def stored_count(self, name, st, lo, hi):
        """Stored points of a stage inside [lo, hi)."""
        pts, prec = st
        if self.sent is not None:
            return sum(1 for t in self.sent.get(name, {}) if lo <= t < hi) \
                if st == stages(self.metrics[name][1])[0] else 0
        a, b = max(lo, NOW - pts * prec), min(hi, NOW)
        return max(0, (round_up(b, prec) - round_up(a, prec)) // prec) \
            if b > a else 0


def glob_re(glob):
    out = []
    for comp in glob.split("."):
        rx = ""
        i = 0
        while i < len(comp):
            c = comp[i]
            if c == "*":
                rx += "[^.]*"
            elif c == "{":
                j = comp.index("}", i)
                rx += "(?:" + "|".join(re.escape(x) for x in
                                       comp[i + 1:j].split(",")) + ")"
                i = j
            else:
                rx += re.escape(c)
            i += 1
        out.append(rx)
    return re.compile("^" + r"\.".join(out) + "$")


def read_series(store, glob, start, end, mdp):
    """Expected `Bgutil.read`: {name: [(ts, value|None)]} (nowS = end)."""
    rx = glob_re(glob)
    out = {}
    for name in sorted(n for n in store.metrics if rx.match(n)):
        ret = store.metrics[name][1]
        s, e, st, step = plan(ret, start, end, end, mdp)
        lo = max(s, e - st[0] * st[1])
        acc = {}
        for ts in range(lo, e, st[1]):
            v = store.stored(name, st, ts)
            if v is None:
                continue
            k = (ts - s) // step * step + s if step > st[1] else ts
            a = acc.setdefault(k, [0.0, 0])
            a[0] += v
            a[1] += 1
        out[name] = [(ts, acc[ts][0] / acc[ts][1] if ts in acc else None)
                     for ts in range(s, e, step)]
    return out


def scanned_points(store, glob, start, end, mdp):
    """Stored points inside the planned fetch windows of one leaf read."""
    rx = glob_re(glob)
    n = 0
    for name, (_, ret, _) in store.metrics.items():
        if rx.match(name):
            s, e, st, _ = plan(ret, start, end, end, mdp)
            n += store.stored_count(name, st, max(s, e - st[0] * st[1]), e)
    return n


def _sum(vals):
    vs = [v for v in vals if v is not None]
    return sum(vs) if vs else None


def _by_ts(series):
    slots = {}
    for pts in series.values():
        for ts, v in pts:
            slots.setdefault(ts, []).append(v)
    return slots


def expected(store, t, start, end, mdp):
    """Expected `/render` series for target tree `t` — computed from the
    value function and the layout, never from the store."""
    op = t[0]
    if op == "path":
        return read_series(store, t[1], start, end, mdp)
    src = expected(store, t[1], start, end, mdp)
    if op == "aliasByNode":
        return {".".join(n.split(".")[i] for i in t[2]): pts
                for n, pts in src.items()}
    if op == "scale":
        return {n: [(ts, None if v is None else v * t[2] + 0.0)
                    for ts, v in pts] for n, pts in src.items()}
    if op == "movingAverage":
        out = {}
        for n, pts in src.items():
            row = []
            for i, (ts, _) in enumerate(pts):
                win = [v for _, v in pts[max(0, i - t[2] + 1):i + 1]
                       if v is not None]
                row.append((ts, sum(win) / len(win) if win else None))
            out[n] = row
        return out
    if op == "nonNegativeDerivative":
        out = {}
        for n, pts in src.items():
            row, prev = [], None
            for ts, v in pts:
                d = None if v is None or prev is None else v - prev
                row.append((ts, d if d is not None and d >= 0 else None))
                prev = v
            out[n] = row
        return out
    if op == "highestCurrent":
        def cur(pts):
            vs = [v for _, v in pts if v is not None]
            return vs[-1] if vs else None
        ranked = sorted(src, key=lambda n: (cur(src[n]) is None,
                                            -(cur(src[n]) or 0), n))
        return {n: src[n] for n in ranked[:t[2]]}
    if op == "sumSeries":
        slots = _by_ts(src)
        return {target_str(t): [(ts, _sum(slots[ts])) for ts in sorted(slots)]}
    if op == "groupByNode":
        groups = {}
        for n, pts in src.items():
            groups.setdefault(n.split(".")[t[2]], {})[n] = pts
        return {k: [(ts, _sum(vs)) for ts, vs in sorted(_by_ts(g).items())]
                for k, g in groups.items()}
    raise ValueError(op)


def target_str(t):
    op = t[0]
    if op == "path":
        return t[1]
    inner = target_str(t[1])
    if op == "aliasByNode":
        return f"aliasByNode({inner},{','.join(map(str, t[2]))})"
    if op in ("scale", "movingAverage", "highestCurrent"):
        return f"{op}({inner},{t[2]})"
    if op == "groupByNode":
        return f"groupByNode({inner},{t[2]},'sum')"
    return f"{op}({inner})"


def leaves(t):
    return [t[1]] if t[0] == "path" else leaves(t[1])


def check_render(body, exp):
    """Compare a `/render` JSON body with the expected series; returns a
    list of mismatch descriptions (empty when correct)."""
    try:
        got = json.loads(body)
    except ValueError as e:
        return [f"unparseable body: {e}"]
    errs = []
    names = [s["target"] for s in got]
    if sorted(names) != sorted(exp):
        missing = sorted(set(exp) - set(names))[:3]
        extra = sorted(set(names) - set(exp))[:3]
        return [f"series names differ: missing {missing} extra {extra} "
                f"({len(names)} vs {len(exp)} series)"]
    for s in got:
        want = exp[s["target"]]
        pts = [(ts, v) for v, ts in s["datapoints"]]
        if [ts for ts, _ in pts] != [ts for ts, _ in want]:
            errs.append(f"{s['target']}: timestamps differ "
                        f"({len(pts)} vs {len(want)} slots)")
            continue
        for (ts, v), (_, w) in zip(pts, want):
            if (v is None) != (w is None) or (
                    v is not None and abs(v - w) > 1e-9 * max(1.0, abs(w))):
                errs.append(f"{s['target']} @ {ts}: got {v} want {w}")
                break
    return errs


def check_live(body, store):
    """During ingest only durable or spooled points can show: every
    non-null value must be the value sent for that slot."""
    try:
        got = json.loads(body)
    except ValueError as e:
        return [f"unparseable body: {e}"]
    for s in got:
        name = "bench." + s["target"] if not s["target"].startswith("bench.") \
            else s["target"]
        if name not in store.metrics:
            return [f"unknown series {s['target']}"]
        mi, _, counter = store.metrics[name]
        for v, ts in s["datapoints"]:
            if v is not None and v != value(store.seed, mi, counter, ts):
                return [f"{name} @ {ts}: got {v} want "
                        f"{value(store.seed, mi, counter, ts)}"]
    return []


def expected_nodes(store, query):
    rx = glob_re(query)
    names = store.metrics
    dirs = {".".join(n.split(".")[:d]) for n in names
            for d in range(1, len(n.split(".")))}
    return sorted({(n, True) for n in names if rx.match(n)} |
                  {(d, False) for d in dirs if rx.match(d)})


def check_find(path, body, store, query, leaves_only):
    """Compare a find/expand body with the generator's names."""
    try:
        got = json.loads(body)
    except ValueError as e:
        return [f"unparseable body: {e}"]
    want = expected_nodes(store, query)
    if path == "/metrics/find":
        got_nodes = sorted((n["text"], n["leaf"]) for n in got)
        return [] if got_nodes == want else [
            f"find {query}: {len(got_nodes)} nodes, want {len(want)}"]
    want_names = sorted({n for n, leaf in want if leaf or not leaves_only})
    return [] if got["results"] == want_names else [
        f"expand {query}: {len(got['results'])} names, want {len(want_names)}"]


# ---- workloads: request generation ------------------------------------------

def seeded_store(seed, size):
    s_n, h_n = SIZES[size]["seeded"]
    store = Store(seed)
    for s in range(s_n):
        for h in range(h_n):
            for k, kind in enumerate(KINDS):
                store.add(f"bench.s{s}.h{h}.{kind}", (s * h_n + h) * len(KINDS) + k,
                          RET_A if h % 2 == 0 else RET_B, kind in COUNTERS)
    return store


def render_req(t, start, end, mdp=0):
    q = [("target", target_str(t)), ("from", start), ("until", end),
         ("now", end), ("format", "json")]
    if mdp:
        q.append(("maxDataPoints", mdp))
    return {"kind": "render", "tree": t, "start": start, "end": end,
            "mdp": mdp, "url": "/render?" + urllib.parse.urlencode(q)}


def find_req(path, query, leaves_only=False):
    q = [("query", query)] + ([("leavesOnly", "1")] if leaves_only else [])
    return {"kind": "find", "path": path, "query": query,
            "leaves_only": leaves_only,
            "url": path + "?" + urllib.parse.urlencode(q)}


def zipf_order(n):
    """Indices 0..n-1, index r with frequency proportional to 1/(r+1), in
    a fixed smooth order (weighted round robin): every stretch of the
    sequence holds each index within one of its expected count, so a short
    run sees the same mix as a long one."""
    weights = [1.0 / (r + 1) for r in range(n)]
    total = sum(weights)
    current = [0.0] * n
    while True:
        for i in range(n):
            current[i] += weights[i]
        best = max(range(n), key=lambda i: current[i])
        current[best] -= total
        yield best


def dashboard_requests(seed, size):
    """40 panel targets and 10 browse queries. Panel rank r has template
    r % 10, a window of [1, 2, 3, 6][r % 4] hours and Zipf weight 1/(r+1),
    sent in a fixed smooth order, so every seed sends the same mix of
    shapes; the seed picks each panel's series and where its window ends."""
    s_n, h_n = SIZES[size]["seeded"]
    rng = random.Random(seed)

    def pick():
        return rng.randrange(s_n), rng.randrange(h_n), rng.choice(KINDS)

    panels = []
    for r in range(40):
        s, h, k = pick()
        k2 = rng.choice([x for x in KINDS if x != k])
        ctr = rng.choice(sorted(COUNTERS))
        base = f"bench.s{s}"
        t = [
            ("path", f"{base}.h{h}.{k}"),
            ("path", f"{base}.h{h}.{{{k},{k2}}}"),
            ("path", f"{base}.*.{k}"),
            ("aliasByNode", ("path", f"{base}.h{h}.*"), [3]),
            ("movingAverage", ("path", f"{base}.h{h}.{k}"), 5),
            ("sumSeries", ("path", f"{base}.*.{k}")),
            ("scale", ("path", f"{base}.h{h}.{k}"), 0.5),
            ("nonNegativeDerivative", ("path", f"{base}.h{h}.{ctr}")),
            ("highestCurrent", ("path", f"{base}.*.{k}"), 3),
            ("aliasByNode", ("path", f"bench.*.h{h}.{k}"), [1]),
        ][r % 10]
        end = NOW - 600 * rng.randrange(0, 12)
        hours = [1, 2, 3, 6][r % 4]
        panels.append(render_req(t, end - hours * 3600, end))
    browse = []
    for r in range(10):
        s, h, _ = pick()
        browse.append([
            find_req("/metrics/find", "bench.*"),
            find_req("/metrics/find", f"bench.s{s}.*"),
            find_req("/metrics/find", f"bench.s{s}.h{h}.*"),
            find_req("/metrics/expand", f"bench.s{s}.*.*", True),
            find_req("/metrics/expand", f"bench.s{s}.h{h}"),
        ][r % 5])
    pick_panel = zipf_order(len(panels))
    pick_browse = zipf_order(len(browse))
    seq = [browse[next(pick_browse)] if i % 5 == 4 else panels[next(pick_panel)]
           for i in range(5000)]  # every fifth request browses the tree
    # untimed warm-up: the first four requests of the mix, one per client
    # (the first requests of a kind run several times slower)
    return seq[:4], seq[4:]


def wide_requests(seed, size):
    """Every request distinct: a glob expansion, then one render, the
    render template rotating through the three wide shapes."""
    s_n, _ = SIZES[size]["seeded"]
    rng = random.Random(seed)
    seen, seq = set(), []
    while len(seq) < 600:
        kind = rng.choice(KINDS)
        shape = (len(seq) // 2) % 3
        if shape == 0:
            end = NOW - 60 * rng.randrange(0, 60)
            key = (shape, kind, end)
            glob = f"bench.*.*.{kind}"
            req = render_req(("sumSeries", ("path", glob)),
                             end - 23 * 3600, end, 500)
        elif shape == 1:
            end = NOW - 3600 * rng.randrange(0, 48)
            days = rng.randrange(7, 31)
            key = (shape, kind, end, days)
            glob = f"bench.*.*.{kind}"
            req = render_req(("groupByNode", ("path", glob), 1),
                             end - days * 86400, end, 500)
        else:
            s = rng.randrange(s_n)
            end = NOW - 300 * rng.randrange(0, 24)
            hours = rng.randrange(2, 7)
            key = (shape, s, end, hours)
            glob = f"bench.s{s}.*.*"
            req = render_req(("aliasByNode", ("path", glob), [2, 3]),
                             end - hours * 3600, end)
        if key in seen:
            continue
        seen.add(key)
        seq += [find_req("/metrics/expand", glob, True), req]
    warm = [seq[1], seq[3], seq[5], seq[0]]
    return warm, seq[6:]


# ---- processes ----------------------------------------------------------------

def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def tree_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f) and (f.endswith((".scala", ".sbt", ".properties"))
                                  or "/resources/" in f):
            h.update(f[len(ROOT):].encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the harness once per source state; returns
    the JVM classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = tree_hash(), os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java are needed to build the program")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else []))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HARNESS, env=env, stdout=out,
                           stderr=subprocess.STDOUT, timeout=850)
    lines = open(log).read().splitlines()
    cp = next((l for l in reversed(lines) if ".jar" in l and
               not l.startswith("[")), None)
    if r.returncode != 0 or cp is None:
        fail(f"build failed (see {log}):\n" + "\n".join(lines[-20:]))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


class Server:
    """The harness JVM: `bgutil web` (and `bgutil carbon`) plus the
    control port. Always torn down and waited for."""

    def __init__(self, cp, run_dir, args, trace):
        self.web, self.ctl = free_port(), free_port()
        self.log = os.path.join(run_dir, "jvm.log")
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()),
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        cmd = (["java", f"-Xmx{HEAP}"] + ADD_OPENS +
               [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "gbench.Harness",
                args[0], os.path.join(run_dir, "db"), str(self.web),
                str(self.ctl), "1" if trace else "0"] + args[1:])
        self.proc = subprocess.Popen(cmd, cwd=run_dir, env=env,
                                     stdout=subprocess.PIPE,
                                     stderr=open(self.log, "w"),
                                     start_new_session=True, text=True)
        self.info = None

    def ready(self, timeout=170):
        box = {}

        def reader():
            for line in self.proc.stdout:
                if line.startswith("READY "):
                    box["info"] = json.loads(line[6:])
                    return
        t = threading.Thread(target=reader, daemon=True)
        t.start()
        t.join(timeout)
        if "info" not in box:
            tail = open(self.log).read()[-3000:]
            raise RuntimeError(f"harness not ready in {timeout} s:\n{tail}")
        self.info = box["info"]
        threading.Thread(target=lambda: [None for _ in self.proc.stdout],
                         daemon=True).start()
        return self.info

    def ctl_get(self, path, timeout=120):
        c = http.client.HTTPConnection("127.0.0.1", self.ctl, timeout=timeout)
        try:
            c.request("GET", path)
            r = c.getresponse()
            body = r.read()
            if r.status != 200:
                raise RuntimeError(f"control {path}: {r.status} {body[:300]}")
            return json.loads(body)
        finally:
            c.close()

    def stop(self):
        if self.proc.poll() is None:
            try:
                self.ctl_get("/quit", timeout=5)
            except Exception:
                pass
            try:
                self.proc.wait(10)
            except subprocess.TimeoutExpired:
                os.killpg(self.proc.pid, signal.SIGKILL)
                self.proc.wait()


class Client:
    def __init__(self, port):
        self.port = port
        self.conn = None

    def get(self, url):
        for attempt in (0, 1):
            if self.conn is None:
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                                       timeout=170)
            try:
                self.conn.request("GET", url)
                r = self.conn.getresponse()
                return r.status, r.read()
            except (http.client.HTTPException, ConnectionError):
                self.conn.close()
                self.conn = None
                if attempt:
                    raise

    def close(self):
        if self.conn:
            self.conn.close()


def closed_loop(port, reqs, clients, seconds=None, wait=False):
    """`clients` threads, each sending its next request when the previous
    one answered. With `seconds`, the phase ends at that deadline (or at
    the first render answered, if later): only requests answered by then
    count, and unless `wait` the caller tears the server down under any
    still in flight. Without `seconds`, it ends when `reqs` is used up.
    Returns records (req, start, end, status, body) and the phase time."""
    it = iter(reqs)
    lock = threading.Lock()
    records = []
    t0 = time.perf_counter()
    deadline = t0 + seconds if seconds is not None else float("inf")

    def open_():
        return time.perf_counter() < deadline or not any(
            r[0]["kind"] == "render" for r in records)

    def run():
        c = Client(port)
        try:
            while open_():
                with lock:
                    req = next(it, None)
                if req is None:
                    return
                a = time.perf_counter()
                try:
                    status, body = c.get(req["url"])
                except Exception as e:  # counted as a failed request
                    status, body = 0, str(e).encode()
                b = time.perf_counter()
                with lock:
                    if b <= deadline or open_():
                        records.append((req, a, b, status, body))
        finally:
            c.close()
    ts = [threading.Thread(target=run, daemon=True) for _ in range(clients)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(None if seconds is None or wait
               else max(0.0, deadline - time.perf_counter()))
    # a phase shorter than one render still waits for the first
    while open_() and any(t.is_alive() for t in ts):
        time.sleep(0.01)
    with lock:
        done = list(records)
    if seconds is None:
        return done, time.perf_counter() - t0
    return done, max(seconds, max(b for _, _, b, _, _ in done) - t0)


def traced_loop(server, reqs, seconds, sink):
    """One client through the control port's `/trace`."""
    out = []
    t0 = time.perf_counter()
    it = iter(reqs)
    # replays take several times the request itself: trace at least three
    while time.perf_counter() < t0 + seconds or len(out) < 3:
        req = next(it)
        rid = f"r{len(out)}"
        r = server.ctl_get("/trace?" + urllib.parse.urlencode(
            {"rid": rid, "url": req["url"]}))
        sink.extend(r.pop("spans"))
        out.append((req, r))
    return out


# ---- metrics -------------------------------------------------------------------

def pct(xs, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty list."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(0, -(-len(xs) * p // 100) - 1))]


def weighted_pct(pairs, p):
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    acc = 0
    for v, w in pairs:
        acc += w
        if acc * 100 >= total * p:
            return v
    return pairs[-1][0]


def du(path):
    files = size = 0
    buckets = set()
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
                buckets.add(d)
    return size, files, len(buckets)


def catalog_version(db):
    try:
        return int(re.match(r"\d+", open(os.path.join(db, "CURRENT"))
                            .read().strip()).group())
    except (OSError, AttributeError):
        return 0


class Outcome:
    def __init__(self):
        self.attempted = 0
        self.failures = []  # (operation, detail)
        self.metrics = {}
        self.layers = {}
        self.samples = {}
        self.info = {}

    def fail(self, op, detail):
        self.failures.append((op, detail))


def score_requests(out, records, store, phase_s, clients):
    """Latency, throughput and correctness of a timed phase."""
    renders, finds = [], []
    scanned = 0
    cache = {}
    timeline(out, records)
    for req, a, b, status, body in records:
        out.attempted += 1
        ms = (b - a) * 1000
        if status != 200:
            out.fail(req["url"], f"HTTP {status}: {body[:200]!r}")
            continue
        if req["kind"] == "render":
            renders.append(ms)
            key = req["url"]
            if key not in cache:
                cache[key] = (
                    expected(store, req["tree"], req["start"], req["end"],
                             req["mdp"]),
                    sum(scanned_points(store, g, req["start"], req["end"],
                                       req["mdp"]) for g in leaves(req["tree"])))
            errs = check_render(body, cache[key][0])
            scanned += cache[key][1]
        else:
            finds.append(ms)
            errs = check_find(req["path"], body, store, req["query"],
                              req["leaves_only"])
        for e in errs:
            out.fail(req["url"], e)
    summarize(out, renders, finds, scanned, phase_s, clients)


def timeline(out, records):
    """Per request: kind, start offset in the phase (s), latency (ms)."""
    t0 = min((a for _, a, _, _, _ in records), default=0.0)
    out.info["requests"] = [(req["kind"], round(a - t0, 3), round((b - a) * 1000, 1))
                            for req, a, b, _, _ in records]


def summarize(out, renders, finds, scanned, phase_s, clients):
    if not renders:
        raise RuntimeError("the timed phase completed no render")
    # rates are per second of client time spent waiting for answers: a
    # request cut off at the deadline is neither counted nor charged
    busy_s = (sum(renders) + sum(finds)) / 1000 / clients
    m = out.metrics
    m["render_p50_ms"] = statistics.median(renders)
    m["render_p90_ms"] = pct(renders, 90)
    m["render_rps"] = len(renders) / busy_s
    if finds:
        m["find_p50_ms"] = statistics.median(finds)
    m["scan_points_per_s"] = scanned / busy_s
    out.samples.update({"render": len(renders), "find": len(finds),
                        "phase_s": phase_s})


def layer_metrics(out, traced, untraced_ms):
    """Per-layer figures from `/trace` results: medians per render request
    for times and counts, ratios from totals."""
    rs = [r for req, r in traced if req["kind"] == "render" and r["status"] == 200]
    allr = [r for _, r in traced]
    L = out.layers

    def med(f):
        return statistics.median([f(r) for r in rs]) if rs else 0.0
    L["bgweb.serialize_ms"] = med(lambda r: r["http_ms"] - r["render_ms"])
    L["bgweb.response_bytes"] = med(lambda r: r["response_bytes"])
    L["rendertarget.parse_ms"] = med(lambda r: r["parse_ms"])
    L["rendertarget.functions_ms"] = med(lambda r: r["render_ms"] - r["read_ms"])
    L["bgutil.hot_overlay_ms"] = med(lambda r: r["read_ms"] - r["fap_ms"])
    L["bgutil.spool_files"] = med(lambda r: r["spool_files"])
    L["find.ms"] = med(lambda r: r["find_ms"])
    L["find.metrics_matched"] = med(lambda r: r["metrics_matched"])
    L["find.catalog_rows_read"] = med(lambda r: r["catalog_rows_read"])
    tot = lambda k: sum(r[k] for r in rs)  # noqa: E731
    L["find.rows_read_per_match"] = tot("catalog_rows_read") / max(1, tot("metrics_matched"))
    L["fetch.ms"] = med(lambda r: r["fetch_ms"])
    L["fetch.files"] = med(lambda r: r["fetch_files"])
    L["fetch.rows_read"] = med(lambda r: r["fetch_rows_read"])
    L["fetch.bytes_read"] = med(lambda r: r["fetch_bytes_read"])
    L["fetch.rows_read_per_point_returned"] = \
        tot("fetch_rows_read") / max(1, tot("points_returned"))
    L["reader.self_ms"] = med(lambda r: r["fap_ms"] - r["find_ms"] - r["fetch_ms"])
    L["reader.shuffle_bytes"] = med(lambda r: r["reader_shuffle_bytes"])
    for k in ["jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
              "shuffle_bytes", "driver_only_ms"]:
        L[f"spark.{k}_per_request"] = sum(r[k] for r in allr) / max(1, len(allr))
    http_ms = [r["http_ms"] for req, r in traced if req["kind"] == "render"]
    L["trace.http_p50_ms"] = statistics.median(http_ms) if http_ms else 0.0
    L["trace.untraced_p50_ms"] = untraced_ms
    L["trace.overhead_ms"] = L["trace.http_p50_ms"] - untraced_ms
    out.samples["traced_requests"] = len(allr)


def ingest_layers(out, progress):
    L = out.layers
    keys = [("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
            ("query_planning_ms", "queryPlanning"), ("get_batch_ms", "getBatch"),
            ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets")]
    for k, src in keys:
        vs = [b.get(src, 0.0) for b in progress]
        L[f"ingest.{k}"] = statistics.median(vs) if vs else 0.0
    L["ingest.rows_per_batch"] = statistics.mean(
        [b["rows"] for b in progress]) if progress else 0.0
    L["ingest.batches"] = float(len(progress))
    L["ingest.state_rows"] = max([b["state_rows"] for b in progress], default=0.0)
    L["ingest.state_memory_bytes"] = max(
        [b["state_memory_bytes"] for b in progress], default=0.0)


# ---- the three workloads --------------------------------------------------------

def run_seeded(args, cp, run_dir, out, workload):
    seed = args.seed % P
    store = seeded_store(seed, args.size)
    warm, seq = (dashboard_requests if workload == "dashboard"
                 else wide_requests)(args.seed, args.size)
    s_n, h_n = SIZES[args.size]["seeded"]
    t_setup = time.perf_counter()
    srv = Server(cp, run_dir, ["seeded", str(seed), str(NOW), str(s_n),
                               str(h_n), ",".join(KINDS), ",".join(sorted(COUNTERS)),
                               RET_A, RET_B], args.trace)
    try:
        info = srv.ready()
        t_warm = time.perf_counter()
        clients = 4 if workload == "dashboard" else 1
        warm_up(srv.web, warm, 4)
        warm_ms = (time.perf_counter() - t_warm) * 1000
        out.samples["phases_s"] = {"server_ready": t_warm - t_setup,
                                   "warmup": warm_ms / 1000}
        out.metrics["setup_s"] = time.perf_counter() - t_setup
        db = os.path.join(run_dir, "db")
        size, files, buckets = du(os.path.join(db, "points"))
        rows = int(info["seed_rows"])
        out.metrics["store_bytes_per_point"] = size / rows
        out.info.update(server=info, store={
            "metrics": len(store.metrics), "rows": rows,
            "rows_by_stage": rows_by_stage(store), "points_bytes": size,
            "points_files": files, "bucket_dirs": buckets})
        if not args.trace:
            recs, phase = closed_loop(srv.web, seq, clients, args.seconds)
            score_requests(out, recs, store, phase, clients)
        else:
            half = args.seconds / 2
            recs, phase = closed_loop(srv.web, seq, 1, half, wait=True)
            score_requests(out, recs, store, phase, 1)
            spans = []
            traced = traced_loop(srv, seq[len(recs):], half, spans)
            layer_metrics(out, traced, out.metrics["render_p50_ms"])
            store_layers(out, db, rows, len(store.metrics), info, warm_ms)
            ingest_layers(out, [])
            carbon_layers(out, [], [])
            write_spans(args, workload, spans)
    finally:
        srv.stop()


def warm_up(port, reqs, clients):
    """Send every request once, untimed; any failure aborts the run."""
    for req, _, _, status, body in closed_loop(port, reqs, clients)[0]:
        if status != 200:
            raise RuntimeError(f"warm-up {req['url']}: {status} {body[:300]}")


def rows_by_stage(store):
    by = {}
    for _, ret, _ in store.metrics.values():
        for i, (pts, prec) in enumerate(stages(ret)):
            k = f"{pts}*{prec}s" + ("_0" if i == 0 else "_aggr")
            by[k] = by.get(k, 0) + pts
    return by


def store_layers(out, db, points, metrics, info, warm_ms):
    size, files, buckets = du(os.path.join(db, "points"))
    L = out.layers
    L["store.files"] = float(files)
    L["store.files_per_bucket"] = files / max(1, buckets)
    L["store.bytes_written_per_point"] = size / max(1, points)
    L["catalog.commits"] = float(catalog_version(db))
    L["catalog.metrics"] = float(metrics)
    L["setup.seed_write_ms"] = info.get("seed_write_ms", 0.0)
    L["setup.catalog_commit_ms"] = info.get("catalog_commit_ms", 0.0)
    L["setup.warmup_ms"] = warm_ms


def carbon_layers(out, send_ms, backlog):
    L = out.layers
    L["carbon.send_ms"] = statistics.median(send_ms) if send_ms else 0.0
    L["carbon.spool_backlog_files_max"] = float(max(backlog, default=0))
    L["carbon.spool_backlog_files_mean"] = statistics.mean(backlog) if backlog else 0.0


def write_spans(args, workload, spans):
    d = args.out or os.path.join(BUILD, "results")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-seed{args.seed}-spans.jsonl")
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    print(f"spans: {len(spans)} written to {path}")


def spool_files(spool):
    try:
        return [f for f in os.listdir(spool) if f.startswith("batch-")]
    except FileNotFoundError:
        return []


def committed_files(ckpt):
    """Spool file name -> batch id, for every batch that has committed."""
    commits = set()
    try:
        commits = {int(f) for f in os.listdir(os.path.join(ckpt, "commits"))
                   if f.isdigit()}
    except FileNotFoundError:
        return {}
    done = {}
    src = os.path.join(ckpt, "sources", "0")
    try:
        names = os.listdir(src)
    except FileNotFoundError:
        return {}
    for n in names:
        if n.startswith("."):
            continue
        try:
            lines = open(os.path.join(src, n)).read().splitlines()
        except OSError:
            continue
        for line in lines[1:]:
            try:
                e = json.loads(line)
            except ValueError:
                continue
            if e["batchId"] in commits:
                done[os.path.basename(e["path"])] = e["batchId"]
    return done


def await_committed(ckpt, names, timeout):
    """Wait until every spool file in `names` (None: every file now in
    the spool) is part of a committed micro-batch."""
    t0 = time.perf_counter()
    if names is None:
        names = spool_files(os.path.join(os.path.dirname(ckpt), "carbon_spool"))
    while time.perf_counter() - t0 < timeout:
        done = committed_files(ckpt)
        if all(n in done for n in names):
            return time.perf_counter()
        time.sleep(0.05)
    raise RuntimeError(f"spool not drained within {timeout} s")


def ingest_store(seed, size):
    s_n, h_n, _, _ = SIZES[size]["ingest"]
    store = Store(seed)
    for s in range(s_n):
        for h in range(h_n):
            for k, kind in enumerate(KINDS):
                store.add(f"bench.s{s}.h{h}.{kind}", (s * h_n + h) * len(KINDS) + k,
                          RET_INGEST, kind in COUNTERS)
    store.sent = {n: {} for n in store.metrics}
    return store


def live_reads(rng, store, size, head):
    """The read client of `ingest`: recent 30 min windows of the metrics
    being written. Built when sent, so each window ends at the newest step
    sent so far."""
    s_n, h_n, _, _ = SIZES[size]["ingest"]
    shapes = []
    for i in range(10):
        s, h, kind = rng.randrange(s_n), rng.randrange(h_n), rng.choice(KINDS)
        shapes.append([
            ("path", f"bench.s{s}.h{h}.*"),
            ("aliasByNode", ("path", f"bench.s{s}.*.{kind}"), [1, 2, 3]),
            ("path", f"bench.s{s}.h{h}.{kind}"),
            ("path", f"bench.s{s}.h{h}.{{{kind},cpu}}"),
        ][i % 4])
    st0 = stages(RET_INGEST)[0]
    i = 0
    while True:
        t = shapes[i % len(shapes)]
        i += 1
        end = head["ts"]
        req = render_req(t, end - 1800, end)
        rx = glob_re(leaves(t)[0])
        req["scan"] = sum(store.stored_count(n, st0, end - 1800, end)
                          for n in store.metrics if rx.match(n))
        yield req


def run_ingest(args, cp, run_dir, out):
    seed = args.seed % P
    _, _, backlog_steps, rate = SIZES[args.size]["ingest"]
    rng = random.Random(args.seed)
    store = ingest_store(seed, args.size)
    order = sorted(store.metrics)
    rng.shuffle(order)  # the seed fixes the send order within a step
    t_base = NOW - 6 * 3600
    head = {"ts": t_base}

    def lines_for(step):
        """One stage0 step of every metric, as carbon plaintext lines."""
        ts = t_base + 60 * step
        lines = []
        for n in order:
            mi, _, counter = store.metrics[n]
            v = value(seed, mi, counter, ts)
            store.sent[n][ts] = v
            lines.append(f"{n} {v!r} {ts}")
        return ts, lines

    db = os.path.join(run_dir, "db")
    spool = os.path.join(db, "carbon_spool")
    ckpt = os.path.join(db, "carbon_checkpoint")
    t_setup = time.perf_counter()
    # the backlog a restarted daemon finds: spool files in the listener's
    # own format (complete files, atomically renamed into place)
    os.makedirs(spool)
    backlog = []
    per_file = max(1, 10000 // len(order))
    for f0 in range(0, backlog_steps, per_file):
        body = []
        for step in range(f0, min(backlog_steps, f0 + per_file)):
            body += lines_for(step)[1]
        name = f"batch-{time.time_ns()}-{f0:08d}.txt"
        with open(os.path.join(spool, "." + name + ".tmp"), "w") as f:
            f.write("\n".join(body))
        os.rename(os.path.join(spool, "." + name + ".tmp"), os.path.join(spool, name))
        backlog.append(name)
    head["ts"] = t_base + 60 * backlog_steps
    backlog_points = backlog_steps * len(order)
    fill_s = time.perf_counter() - t_setup

    carbon_port = free_port()
    t_jvm = time.perf_counter()
    srv = Server(cp, run_dir, ["ingest", str(carbon_port), RET_INGEST], args.trace)
    try:
        info = srv.ready()
        ready_s = time.perf_counter() - t_jvm
        done_at = await_committed(ckpt, backlog, 170)
        # catch-up runs from the moment the session exists (the carbon
        # query starts right after it) until every backlog file committed
        catchup_s = done_at - t_jvm - info["session_ms"] / 1000
        out.metrics["ingest_catchup_points_per_s"] = backlog_points / catchup_s

        reads = live_reads(rng, store, args.size, head)
        # no read warm-up: the reads' figures are reported, not gated, and
        # the catch-up has already warmed the JVM
        warm_ms = 0.0
        out.metrics["setup_s"] = fill_s + ready_s

        # open loop: one stage0 step of every metric per tick, on one
        # connection; a point's lag counts from when its tick was due
        tick_s = len(order) / rate
        # as many ticks as fit the phase: at the full size that is a whole
        # number of listener rolls (10000 lines), so no point waits for the
        # connection to close
        ticks = int(args.seconds / tick_s)
        due, send_ms, late, backlog_seen = {}, [], [], []
        stop = threading.Event()

        def sender():
            sock = socket.create_connection(("127.0.0.1", carbon_port))
            t0, wall0, k = time.perf_counter(), time.time(), 0
            try:
                while not stop.is_set() and k < ticks:
                    at = t0 + k * tick_s
                    if at > time.perf_counter():
                        time.sleep(at - time.perf_counter())
                    ts, lines = lines_for(backlog_steps + k)
                    a = time.perf_counter()
                    due[ts] = wall0 + k * tick_s
                    late.append(a - at)
                    sock.sendall(("\n".join(lines) + "\n").encode())
                    send_ms.append((time.perf_counter() - a) * 1000)
                    head["ts"] = ts + 60
                    k += 1
            finally:
                sock.close()

        def sampler():
            while not stop.is_set():
                backlog_seen.append(len(spool_files(spool)))
                time.sleep(0.1)

        threads = [threading.Thread(target=sender), threading.Thread(target=sampler)]
        for t in threads:
            t.start()
        spans = []
        try:
            half = args.seconds / 2 if args.trace else args.seconds
            recs, phase = closed_loop(srv.web, reads, 1, half, wait=True)
            if args.trace:
                traced = traced_loop(srv, reads, half, spans)
        finally:
            stop.set()
            for t in threads:
                t.join()
        points = sum(len(v) for v in store.sent.values())
        t_drain = time.perf_counter()
        await_committed(ckpt, None, 120)
        vis = await_durable(srv, points, 60)
        t_verify = time.perf_counter()
        score_ingest_reads(out, recs, store, phase)
        verify_ingest(out, srv, store, t_base, head["ts"])
        out.samples["phases_s"] = {
            "spool_fill": fill_s, "server_ready": ready_s, "catchup": catchup_s,
            "warmup": warm_ms / 1000, "live": phase,
            "drain": t_verify - t_drain, "verify": time.perf_counter() - t_verify}
        commit_t = {}
        for f in os.listdir(os.path.join(ckpt, "commits")):
            if f.isdigit():
                commit_t[int(f)] = os.stat(os.path.join(ckpt, "commits", f)).st_mtime
        lags = [(commit_t[seq] - due[ts], n) for ts, seq, n in vis
                if ts in due and seq in commit_t]
        if not lags:
            raise RuntimeError("no live point was committed")
        out.metrics["ingest_visible_p50_s"] = weighted_pct(lags, 50)
        out.metrics["ingest_visible_p90_s"] = weighted_pct(lags, 90)
        hours = sum(len({ts // 3600 for ts in v}) for v in store.sent.values())
        size, files, buckets = du(os.path.join(db, "points"))
        out.metrics["store_bytes_per_point"] = size / (points + hours)
        out.samples.update(visible_points=sum(n for _, n in lags),
                           generator_late_ms_max=max(late, default=0) * 1000)
        st0 = "%d*%ds_0" % stages(RET_INGEST)[0]
        st1 = "%d*%ds_aggr" % stages(RET_INGEST)[1]
        out.info.update(server=info, store={
            "metrics": len(order), "backlog_points": backlog_points,
            "live_points": points - backlog_points,
            "rows_by_stage": {st0: points, st1: hours},
            "points_bytes": size, "points_files": files, "bucket_dirs": buckets,
            "rate_points_per_s": rate})
        if args.trace:
            layer_metrics(out, traced, out.metrics["render_p50_ms"])
            store_layers(out, db, points + hours, len(order), info, warm_ms)
            ingest_layers(out, srv.ctl_get("/progress"))
            carbon_layers(out, send_ms, backlog_seen)
            write_spans(args, "ingest", spans)
    finally:
        srv.stop()


def await_durable(srv, points, timeout):
    """Wait until every stage0 point sent is stored; returns the harness's
    `[[ts, first batch_seq, points], ...]`."""
    t0 = time.perf_counter()
    st0 = "%d*%ds_0" % stages(RET_INGEST)[0]
    while True:
        vis = srv.ctl_get("/visibility?stage=" + urllib.parse.quote(st0))
        if sum(n for _, _, n in vis) >= points:
            return vis
        if time.perf_counter() - t0 > timeout:
            raise RuntimeError(f"{points - sum(n for _, _, n in vis)} points "
                               f"not durable {timeout} s after the last send")
        time.sleep(0.5)


def score_ingest_reads(out, recs, store, phase):
    """Live reads: latency, and every value shown equals the value sent."""
    renders, scanned = [], 0
    timeline(out, recs)
    for req, a, b, status, body in recs:
        out.attempted += 1
        if status != 200:
            out.fail(req["url"], f"HTTP {status}: {body[:200]!r}")
            continue
        renders.append((b - a) * 1000)
        scanned += req["scan"]
        for e in check_live(body, store):
            out.fail(req["url"], e)
    summarize(out, renders, [], scanned, phase, 1)


def verify_ingest(out, srv, store, t_base, end):
    """After the drain: every metric auto-created, every point sent
    readable at stage0 with its value."""
    c = Client(srv.web)
    try:
        status, body = c.get("/metrics/index.json")
        got = set(json.loads(body)) if status == 200 else set()
        out.attempted += len(store.metrics)
        for n in sorted(set(store.metrics) - got):
            out.fail("auto-create", f"metric {n} missing from the catalog")
        url = "/render?" + urllib.parse.urlencode(
            [("target", "bench.*.*.*"), ("from", t_base), ("until", end),
             ("now", end)])
        status, body = c.get(url)
        rows = {x["target"]: x["datapoints"] for x in json.loads(body)} \
            if status == 200 else {}
        for n in store.metrics:
            pts = {ts: v for v, ts in rows.get(n, [])}
            for ts, v in store.sent[n].items():
                out.attempted += 1
                if pts.get(ts) != v:
                    out.fail("drain", f"{n} @ {ts}: read {pts.get(ts)} sent {v}")
    finally:
        c.close()


# ---- main ----------------------------------------------------------------------------

def provenance(args, stamp):
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    return {"git_commit": commit, "source_hash": stamp, "nproc": nproc(),
            "heap": HEAP, "seed": args.seed, "size": args.size,
            "seconds": args.seconds, "trace": args.trace,
            "workload": args.workload, "started_unix": time.time()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["dashboard", "wide", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--out", help="directory for the run record "
                                  "(default .bench_build/results)")
    args = ap.parse_args()
    # a TERM unwinds through the `finally` blocks that stop the server
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(
            os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a biggraphitespark checkout "
             "(build.sbt and src/main/scala/graft are missing)")
    cp, stamp = build()
    run_dir = os.path.join(BUILD, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = Outcome()
    try:
        if args.workload == "ingest":
            run_ingest(args, cp, run_dir, out)
        else:
            run_seeded(args, cp, run_dir, out, args.workload)
    except Exception as e:
        log = os.path.join(run_dir, "jvm.log")
        tail = open(log).read()[-2000:] if os.path.exists(log) else ""
        fail(f"run failed: {e}\n{tail}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    failed = len(out.failures)
    out.metrics["error_rate"] = failed / max(1, out.attempted)
    for name, (src, scale) in HEADLINE[args.workload].items():
        if src in out.metrics:
            out.metrics[name] = out.metrics[src] * scale
    units = dict(END_TO_END, **WORKLOAD_ONLY)
    record = {"provenance": provenance(args, stamp), "server": out.info.get("server"),
              "store": out.info.get("store"), "samples": out.samples,
              "requests": out.info.get("requests"),
              "attempted": out.attempted, "failed": failed,
              "failures": [list(f) for f in out.failures[:200]],
              "metrics": {k: {"value": v, "unit": units[k]}
                          for k, v in out.metrics.items()},
              "per_layer": {k: {"value": v, "unit": PER_LAYER[k]}
                            for k, v in out.layers.items()}}
    d = args.out or os.path.join(BUILD, "results")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                           f"{int(time.time() * 1000)}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)

    print(f"provenance: {json.dumps(record['provenance'])}")
    print(f"server: {json.dumps(record['server'])}")
    print(f"store: {json.dumps(record['store'])}")
    print(f"samples: {json.dumps(out.samples)}")
    for k, v in out.metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    for k, v in out.layers.items():
        print(f"{k} = {v:.6g} {PER_LAYER[k]}")
    for op, detail in out.failures[:20]:
        print(f"FAILED {op}: {detail}")
    if failed > 20:
        print(f"... {failed - 20} more failures in {path}")
    print(f"record: {path}")
    if args.trace:
        missing = set(PER_LAYER) - set(out.layers)
        metrics = {k: {"value": out.layers.get(k, 0.0), "unit": u}
                   for k, u in PER_LAYER.items()}
        assert not missing, missing
    else:
        missing = set(END_TO_END) - set(out.metrics)
        if missing:
            fail(f"the run measured no {sorted(missing)}")
        metrics = {k: {"value": out.metrics[k], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": out.attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
