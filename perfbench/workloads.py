"""The benchmark's two workloads over the program's public entry points.

full_refresh   the reference's hourly job in a fresh process: land the
               whole ODS (80-route catalog + deletes, page size 500)
               into new silver, build all 41 views with the default
               parallelism, run `validate_gold`.
gold_queries   dashboards on a lake kept current incrementally: a
               change-version tick (~1% churn of the section
               associations, landed with minChangeVersion /
               maxChangeVersion and spliced into the served view that
               reads them by `pipeline.run_incremental_refresh`), then
               a closed loop of query clients over the five AMT shapes.

Both return a `Result`; `run.py` turns it into the printed metrics.
Operations are timed twice: wall time, and CPU time of the whole
process tree (this Python driver, the Spark JVM and anything it
starts). Time the hypervisor steals from a guest on a shared host is
charged to no process, so the CPU time follows host load far less.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import random
import shutil
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import gen
import queries
from fake_ods import FakeOds
from spans import Tracer, duration

from api_to_amt_data_lake_spark import pipeline
from api_to_amt_data_lake_spark.amt import incremental_gold, registry, validate
from api_to_amt_data_lake_spark.sources import json_source, parquet_io, rest

SY = gen.SY
RUN_DATE = gen.RUN_DATE
# validate_gold RI checks that fail on any lake with mid-year exits or
# district-level demographics, whatever the data: the enrolled-only
# studentSchoolDim is the wrong parent for section rows of exited
# students, and the school bridge keeps district-level rows. The gate
# accepts exactly the violation counts those two causes predict.
KNOWN_RI_DEFECTS = {
    "studentSectionDim.StudentSchoolKey -> studentSchoolDim.StudentSchoolKey",
    "studentSchoolDemographicsBridge.StudentSchoolKey -> "
    "studentSchoolDim.StudentSchoolKey",
}
# the churned collection, and the served views a gold_queries tick
# splices by StudentKey through pipeline.run_incremental_refresh
SECTIONS = "studentSectionAssociations"
STUDENT_KEYED = ("rls_UserStudentDataAuthorization",)
# queries per second the gold_queries burst is sized for (4-core host)
QUERY_RATE = 8.0
SERVED = (queries.CHRAB, queries.EWS, "studentSchoolDim",
          "ews_studentSectionGradeFact", "studentSchoolDemographicsBridge",
          "demographicDim") + STUDENT_KEYED


@dataclasses.dataclass
class Result:
    setup_s: float
    op_ms: list[float]
    window_s: float
    refresh_s: list[float]
    lake_mb: float
    op_cpu_ms: list[float] = dataclasses.field(default_factory=list)
    refresh_cpu_s: list[float] = dataclasses.field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = dataclasses.field(default_factory=list)
    layers: dict[str, float] = dataclasses.field(default_factory=dict)
    size: dict = dataclasses.field(default_factory=dict)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)


def dir_mb(*paths: str) -> float:
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in parquet_files(path))


def timed_generate(seed: int, n_students: int, reps: int = 3):
    """Generate the inputs `reps` times; the median time is the set-up
    cost, and every repetition must be identical."""
    times, docs = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        again = gen.generate(seed, n_students)
        times.append(time.perf_counter() - t0)
        if docs is not None and again != docs:
            raise RuntimeError("generator is not deterministic for one seed")
        docs = again
    return docs, statistics.median(times)


def cpu_s() -> float:
    """CPU seconds (user + system) of this process and every descendant:
    live ones from their own counters, exited ones from the counters of
    the parent that reaped them."""
    tick = os.sysconf("SC_CLK_TCK")
    kids: dict[int, list[int]] = {}
    used: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listed
            continue
        kids.setdefault(int(st[1]), []).append(int(d))
        used[int(d)] = sum(int(x) for x in st[11:15])  # u, s, cu, cs
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / tick


class Probe:
    """Spark-side counters for the traced run: jobs and tasks per job
    group, and JVM garbage-collection time."""

    def __init__(self, spark):
        self.spark = spark
        self.groups: set[str] = set()
        self._lock = threading.Lock()

    def group(self, name: str) -> None:
        with self._lock:
            self.groups.add(name)
        self.spark.sparkContext.setJobGroup(name, name)

    def jobs_tasks(self) -> tuple[int, int]:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tasks = 0
        for g in self.groups:
            for j in tracker.getJobIdsForGroup(g):
                jobs += 1
                info = tracker.getJobInfo(j)
                for s in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(s)
                    tasks += st.numTasks if st else 0
        return jobs, tasks

    def gc_s(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime()
                   for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def install_tracing(tracer: Tracer, probe: Probe, prefix: str) -> None:
    """Spans around the public functions of each layer."""
    if not tracer.enabled:
        return

    def arg(i, key):
        def f(*a, **k):
            v = k.get(key, a[i] if len(a) > i else None)
            return {key: v}
        return f

    tracer.wrap(rest, "land_all", "rest.land_all")
    tracer.wrap(rest, "land_collection", "rest.land_collection",
                attrs=arg(2, "endpoint"),
                result=lambda a, v: a.update(docs=v))
    tracer.wrap(json_source, "read_collection", "json_source.read_collection",
                attrs=arg(3, "endpoint"),
                result=lambda a, v: (a.update(df_id=id(v)),
                                     tracer.keep.append(v)))
    tracer.wrap(registry, "run_all", "registry.run_all",
                attrs=lambda *a, **k: {"parallelism": k.get("parallelism")})
    tracer.wrap(parquet_io, "write_view", "parquet_io.write_view",
                attrs=arg(2, "view_name"))
    tracer.wrap(validate, "validate_gold", "validate.validate_gold")
    tracer.wrap(incremental_gold, "refresh_view_incremental",
                "incremental_gold.refresh_view_incremental",
                attrs=arg(1, "name"))
    for name, spec in list(registry.VIEWS.items()):
        build = spec.build

        def traced(spark, silver_root, school_year, run_date=None,
                   _build=build, _name=name):
            probe.group(f"{prefix}:{_name}")
            with tracer.span("amt.build", view=_name):
                return _build(spark, silver_root, school_year, run_date)

        registry.VIEWS[name] = dataclasses.replace(spec, build=traced)


def view_counts(gold: str) -> dict[str, int]:
    year = os.path.join(gold, str(SY))
    return {v: parquet_rows(os.path.join(year, v)) for v in registry.VIEWS}


def expected_ri_violations(docs, gold: str) -> dict[str, int]:
    """The violation counts the two known validator defects predict."""
    import duckdb

    exited = sum(1 for d in docs["studentSchoolAssociations"]
                 if d["exitWithdrawDate"] and d["exitWithdrawDate"] < RUN_DATE)
    bridge = os.path.join(gold, str(SY), "studentSchoolDemographicsBridge",
                          "**", "*.parquet")
    con = duckdb.connect()
    try:
        district = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{bridge}') "
            f"WHERE StudentSchoolKey LIKE '%-{gen.LEA}'").fetchone()[0]
    finally:
        con.close()
    return {
        "studentSectionDim.StudentSchoolKey -> "
        "studentSchoolDim.StudentSchoolKey": exited * len(gen.COURSES),
        "studentSchoolDemographicsBridge.StudentSchoolKey -> "
        "studentSchoolDim.StudentSchoolKey": district,
    }


def check_validation(report, docs, gold: str, res: Result) -> int:
    failed = [r for r in report if r["status"] == "FAIL"]
    skipped = [r["check"] for r in report if r["status"] == "SKIPPED"]
    if skipped:
        res.fail(f"validate_gold SKIPPED {skipped}")
    expected = expected_ri_violations(docs, gold)
    for r in failed:
        if r["check"] not in KNOWN_RI_DEFECTS:
            res.fail(f"validate_gold FAIL {r['check']} ({r['violations']})")
        elif r["violations"] != expected[r["check"]]:
            res.fail(f"validate_gold {r['check']}: {r['violations']} "
                     f"violations, data predicts {expected[r['check']]}")
    return len(failed)


# ---------------------------------------------------------------- full_refresh

def full_refresh(spark, work: str, seed: int, n_students: int,
                 seconds: float, tracer: Tracer, probe: Probe,
                 t_start: float, workers: int) -> Result:
    docs, gen_s = timed_generate(seed, n_students)
    ods = FakeOds(docs)
    cfg = ods.config(workers)
    setup_s = (time.perf_counter() - t_start) - 2 * gen_s  # one gen kept
    res = Result(setup_s=setup_s, op_ms=[], window_s=0.0, refresh_s=[],
                 lake_mb=0.0)
    install_tracing(tracer, probe, "full")
    ops, t_window = [], time.perf_counter()
    k = 0
    while k == 0 or time.perf_counter() - t_window < seconds:
        silver = os.path.join(work, f"silver{k}")
        gold = os.path.join(work, f"gold{k}")
        res.attempted += 1
        pages0 = ods.pages
        gc0 = probe.gc_s() if tracer.enabled else 0.0
        if tracer.enabled:
            probe.group(f"full:op{k}")
        c0, t0 = cpu_s(), time.perf_counter()
        try:
            with tracer.span("op.full_refresh", root=True, k=k) as sp:
                pipeline.run_full_pipeline(
                    spark, silver, gold, [SY], cfg=cfg, session=ods,
                    run_date=RUN_DATE)
                report = validate.validate_gold(spark, gold, SY).collect()
        except Exception as exc:  # noqa: BLE001 — a failed op, not a crash
            res.fail(f"full refresh raised {type(exc).__name__}: {exc}")
            break
        dt, dc = time.perf_counter() - t0, cpu_s() - c0
        res.op_ms.append(dt * 1000)
        res.refresh_s.append(dt)
        res.op_cpu_ms.append(dc * 1000)
        res.refresh_cpu_s.append(dc)
        if tracer.enabled:
            ops.append(sp.rec)
            jobs, tasks = probe.jobs_tasks()
        # correctness, outside the timed window
        counts = view_counts(gold)
        empty = sorted(v for v, c in counts.items() if c == 0)
        if len(counts) != 41 or empty:
            res.fail(f"views with no rows: {empty}")
        n_failed = check_validation(report, docs, gold, res)
        res.lake_mb = dir_mb(os.path.join(gold, str(SY)))
        res.size = {"students": n_students,
                    "documents": sum(map(len, docs.values())),
                    "silver_mb": round(dir_mb(silver), 2),
                    "gold_mb": round(res.lake_mb, 2)}
        if tracer.enabled:
            res.layers.update(full_layers(tracer, ops[-1:], gold, silver,
                                          workers_param=8))
            res.layers["validate.checks_failed"] = n_failed
            res.layers["rest.pages"] = ods.pages - pages0
            res.layers["jvm.gc_s"] = probe.gc_s() - gc0
            res.layers["spark.jobs"] = jobs
            res.layers["spark.tasks"] = tasks
        shutil.rmtree(silver, ignore_errors=True)
        if k > 0:
            shutil.rmtree(os.path.join(work, f"gold{k - 1}"),
                          ignore_errors=True)
        k += 1
    res.window_s = sum(res.refresh_s)
    return res


def full_layers(tracer: Tracer, ops: list[dict], gold: str, silver: str,
                workers_param: int) -> dict[str, float]:
    out: dict[str, float] = {}
    land = tracer.named("rest.land_all", ops)
    out["rest.land_s"] = duration(land)
    out["rest.bytes_written"] = dir_mb(silver) * 1e6
    reads = tracer.named("json_source.read_collection", ops)
    out["json_source.read_s"] = duration(reads)
    out["json_source.calls"] = len(reads)
    seen, hits = set(), 0
    for r in sorted(reads, key=lambda s: s["start"]):
        hits += r["attrs"].get("df_id") in seen
        seen.add(r["attrs"].get("df_id"))
    out["json_source.memo_hit_ratio"] = hits / len(reads) if reads else 0.0
    builds = tracer.named("amt.build", ops)
    out["amt.plan_s"] = sum(tracer.self_time(b) for b in builds)
    writes = tracer.named("parquet_io.write_view", ops)
    per_view: dict[str, float] = {}
    for s in builds + writes:
        v = s["attrs"].get("view") or s["attrs"].get("view_name")
        per_view[v] = per_view.get(v, 0.0) + s["end"] - s["start"]
    for v in registry.VIEWS:
        out[f"view.{v}.s"] = per_view.get(v, 0.0)
    runs = tracer.named("registry.run_all", ops)
    if runs:
        run = runs[-1]
        shared = {n for n, s in registry.VIEWS.items() if s.shared}
        shared_end = max((s["end"] for s in writes
                          if s["attrs"].get("view_name") in shared),
                         default=run["start"])
        pool = run["end"] - shared_end
        out["registry.shared_phase_s"] = shared_end - run["start"]
        out["registry.pool_phase_s"] = pool
        busy = sum(per_view.get(v, 0.0) for v in registry.VIEWS
                   if v not in shared)
        par = run["attrs"].get("parallelism") or workers_param
        out["registry.busy_ratio"] = busy / (pool * par) if pool > 0 else 0.0
    out["parquet_io.write_s"] = duration(writes)
    year = os.path.join(gold, str(SY))
    out["parquet_io.files_written"] = len(parquet_files(year))
    out["parquet_io.rows_written"] = sum(view_counts(gold).values())
    out["validate.validate_s"] = duration(
        tracer.named("validate.validate_gold", ops))
    return out


# ---------------------------------------------------------------- gold_queries

class Silver:
    """The landed silver JSON of the churned collection, folded forward
    one landed increment at a time (upsert by id, drop tombstoned ids)."""

    def __init__(self, root: str):
        self.root = root
        self.dir = os.path.join(root, str(SY), SECTIONS)
        self.docs: dict[str, dict] = {}
        for f in sorted(glob.glob(os.path.join(self.dir, "*.json"))):
            with open(f) as fh:
                self.docs.update((d["id"], d) for d in json.load(fh))

    def fold(self, landed: str, tick: int) -> None:
        for f in sorted(glob.glob(os.path.join(landed, SECTIONS, "*.json"))):
            with open(f) as fh:
                self.docs.update((d["id"], d) for d in json.load(fh))
        for f in sorted(glob.glob(
                os.path.join(landed, f"deletes_{SECTIONS}", "*.json"))):
            with open(f) as fh:
                for d in json.load(fh):
                    self.docs.pop(d["id"], None)
        for f in glob.glob(os.path.join(self.dir, "*.json")):
            os.remove(f)
        rows = list(self.docs.values())
        for i in range(0, max(len(rows), 1), 5000):
            with open(os.path.join(
                    self.dir, f"{SECTIONS}_t{tick}_{i // 5000:05d}.json"),
                    "w") as fh:
                json.dump(rows[i:i + 5000], fh)


def churn(ods: FakeOds, rng: random.Random, n: int):
    """~1% of the section associations: a third updated (course dropped
    early), a third deleted, a third inserted (re-scheduled with a later
    begin date). Returns (upserts, deletes, students touched)."""
    live = ods.documents(SECTIONS)
    docs = [live[i] for i in sorted(live)]
    k = max(3, len(docs) // 100)
    picked = rng.sample(docs, 2 * (k // 3))
    updates, deletes = picked[: k // 3], picked[k // 3:]
    upserts = []
    for base in updates:
        new = json.loads(json.dumps(base))
        new["endDate"] = "2023-11-30"
        upserts.append(new)
    for j in range(k - len(picked)):
        base = rng.choice(docs)
        new = json.loads(json.dumps(base))
        new["id"] = f"{base['id']}-t{n}n{j}"
        new["beginDate"] = "2023-09-18"
        upserts.append(new)
    students = {d["studentReference"]["studentUniqueId"]
                for d in upserts + deletes}
    return upserts, [d["id"] for d in deletes], students


def tick(spark, ods: FakeOds, cfg, silver: Silver, gold: str, landed: str,
         seed: int) -> tuple[float, float, int, int, dict[str, str]]:
    """One change-version tick: churn the ODS, land the increment, fold it
    into silver (untimed), splice the touched students into the served
    views that read section associations. Returns (timed wall seconds,
    timed CPU seconds, changes, touched keys, {view: gold path})."""
    upserts, deletes, students = churn(
        ods, random.Random(f"{seed}:churn"), 1)
    old_v = ods.version
    new_v = ods.apply({SECTIONS: upserts}, {SECTIONS: deletes})
    c0, t0 = cpu_s(), time.perf_counter()
    token = rest.fetch_token(cfg, session=ods)
    if rest.newest_change_version(cfg, token, session=ods) != new_v:
        raise RuntimeError("change version did not advance")
    for deletes_route in (False, True):
        rest.land_collection(
            cfg, token, f"ed-fi/{SECTIONS}", landed, "",
            deletes=deletes_route, session=ods,
            min_change_version=old_v + 1, max_change_version=new_v)
    t_land, c_land = time.perf_counter() - t0, cpu_s() - c0
    silver.fold(landed, 1)
    c1, t1 = cpu_s(), time.perf_counter()
    keys = spark.createDataFrame([(k,) for k in sorted(students)],
                                 "StudentKey string")
    refreshed = pipeline.run_incremental_refresh(
        spark, silver.root, gold, SY,
        {v: (keys, "StudentKey") for v in STUDENT_KEYED}, RUN_DATE)
    parquet_io.register_gold_views(spark, gold, SY)
    return (t_land + time.perf_counter() - t1, c_land + cpu_s() - c1,
            len(upserts) + len(deletes), len(students), refreshed)


def gold_queries(spark, work: str, seed: int, n_students: int,
                 seconds: float, tracer: Tracer, probe: Probe,
                 t_start: float, workers: int, clients: int) -> Result:
    silver = os.path.join(work, "silver")
    gold = os.path.join(work, "gold")
    year = os.path.join(gold, str(SY))
    docs, gen_s = timed_generate(seed, n_students)
    ods = FakeOds(docs)
    cfg = ods.config(workers)
    rest.land_all(cfg, None, silver, SY, with_deletes=False, session=ods)

    def serve(v: str) -> None:
        parquet_io.write_view(
            registry.build_view(v, spark, silver, SY, RUN_DATE), gold, v, SY)

    # independent views, written concurrently as registry.run_all does
    with ThreadPoolExecutor(max_workers=workers) as pool:
        list(pool.map(serve, SERVED))
    parquet_io.register_gold_views(spark, gold, SY)
    schools = [str(s) for s in gen.school_ids(n_students)]
    domains = {
        "chronic_absence_by_school": schools,
        "equity_breakdown": schools,
        "ews_student": [f"S{i}" for i in range(n_students)],
        "teacher_roster": sorted({
            d["staffReference"]["staffUniqueId"]
            for d in docs["staffSectionAssociations"]}),
        "section_grades": sorted({r[0] for r in spark.sql(
            "SELECT DISTINCT SectionKey FROM ews_studentSectionGradeFact"
        ).collect()}),
    }
    # warm-up: plan and generate code for each shape once
    with ThreadPoolExecutor(max_workers=clients) as pool:
        list(pool.map(lambda shape: spark.sql(queries.sql(
            shape, domains[shape][0])).collect(), sorted(queries.SHAPES)))
    silver_state = Silver(silver)
    landed = os.path.join(work, "increment")
    setup_s = (time.perf_counter() - t_start) - 2 * gen_s
    res = Result(setup_s=setup_s, op_ms=[], window_s=0.0, refresh_s=[],
                 lake_mb=0.0)
    res.size = {"students": n_students,
                "documents": sum(map(len, docs.values())),
                "silver_mb": round(dir_mb(silver), 2),
                "gold_mb": round(dir_mb(year), 2), "clients": clients}
    install_tracing(tracer, probe, "gq")
    gc0 = probe.gc_s() if tracer.enabled else 0.0
    pages0 = ods.pages
    if tracer.enabled:
        probe.group("gq:tick")
    tick_wall = time.time()
    res.attempted += 1
    n_changes = n_keys = 0
    refreshed: dict[str, str] = {}
    try:
        with tracer.span("op.incremental_refresh", root=True) as tick_span:
            tick_s, tick_cpu_s, n_changes, n_keys, refreshed = tick(
                spark, ods, cfg, silver_state, gold, landed, seed)
        res.refresh_s.append(tick_s)
        res.refresh_cpu_s.append(tick_cpu_s)
    except Exception as exc:  # noqa: BLE001 — a raised view is a failed op
        res.fail(f"incremental refresh raised {type(exc).__name__}: {exc}")
    if silver_state.docs != ods.documents(SECTIONS):
        res.fail(f"folded silver {SECTIONS} differs from the ODS")

    # -- the dashboard burst: a closed loop of `clients` query clients,
    # each sending a fixed number of queries (whole rounds of the five
    # shapes) sized to take about `seconds` at QUERY_RATE. The JVM is
    # still warming up, so later queries cost less; with a fixed time a
    # slow host would answer fewer, dearer queries. Fixed work keeps the
    # same queries in every run --
    samples: list[tuple[str, str, float, float, str]] = []
    errors: list[str] = []
    lock = threading.Lock()
    rounds = max(1, round(seconds * QUERY_RATE
                          / (clients * len(queries.SHAPES))))
    per_client = rounds * len(queries.SHAPES)

    def client(c: int) -> None:
        mix = queries.Mix(domains, seed * 1000 + c, offset=c)
        if tracer.enabled:
            probe.group(f"gq:client{c}")
        local = []
        for _ in range(per_client):
            shape, p = mix.next()
            try:
                with tracer.span("op.query", shape=shape):
                    t0 = time.perf_counter()
                    df = spark.sql(queries.sql(shape, p))
                    t1 = time.perf_counter()
                    rows = df.collect()
                    t2 = time.perf_counter()
                local.append((shape, p, (t1 - t0) * 1000, (t2 - t1) * 1000,
                              queries.answer_hash(rows)))
            except Exception as exc:  # noqa: BLE001 — counted as failed
                with lock:
                    errors.append(f"{shape}({p}): {exc}")
        with lock:
            samples.extend(local)

    c_burst, t_burst = cpu_s(), time.perf_counter()
    threads = [threading.Thread(target=client, args=(c,), name=f"client{c}")
               for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    res.window_s = time.perf_counter() - t_burst
    res.op_ms = [plan + ex for _, _, plan, ex, _ in samples]
    # concurrent queries share the CPU, so the cost of one query is the
    # burst's CPU time over the queries it answered
    if samples:
        res.op_cpu_ms.append((cpu_s() - c_burst) * 1000 / len(samples))
    res.attempted += len(samples) + len(errors)
    for e in errors:
        res.fail(f"query raised {e}")
    if tracer.enabled:
        jobs, tasks = probe.jobs_tasks()

    # -- correctness, outside the timed window --
    duck = queries.DuckCheck(year)
    expect: dict[tuple[str, str], str] = {}
    for shape, p, _, _, h in samples:
        if (shape, p) not in expect:
            expect[shape, p] = duck.answer(shape, p)
        if expect[shape, p] != h:
            res.fail(f"{shape}({p}) differs from DuckDB")
    duck.close()
    for v in refreshed:
        if not parity(spark, silver, gold, v):
            res.fail(f"{v} after the incremental refresh differs from a "
                     f"full rebuild")
    res.lake_mb = dir_mb(year)

    if tracer.enabled:
        res.layers.update(gq_layers(tracer, [tick_span.rec], n_changes,
                                    n_keys, samples, gold, tick_wall))
        res.layers["rest.pages"] = ods.pages - pages0
        res.layers["rest.bytes_written"] = dir_mb(landed) * 1e6
        res.layers["jvm.gc_s"] = probe.gc_s() - gc0
        res.layers["spark.jobs"] = jobs
        res.layers["spark.tasks"] = tasks
    return res


def parity(spark, silver: str, gold: str, view: str) -> bool:
    """Gold equals a full rebuild over the current silver, both
    `exceptAll` directions (tools/incremental_gold_smoke.py's check)."""
    full = registry.build_view(view, spark, silver, SY, RUN_DATE)
    inc = spark.read.parquet(os.path.join(gold, str(SY), view))
    inc = inc.select(*[inc[c].cast(full.schema[c].dataType).alias(c)
                       for c in full.columns])
    return inc.exceptAll(full).unionAll(full.exceptAll(inc)).isEmpty()


def gq_layers(tracer: Tracer, ops: list[dict], n_changes: int,
              n_keys: int, samples, gold: str,
              tick_wall: float) -> dict[str, float]:
    import pyarrow.parquet as pq

    out: dict[str, float] = {
        "rest.land_s": duration(tracer.named("rest.land_collection", ops)),
        "incremental_gold.refresh_s": duration(tracer.named(
            "incremental_gold.refresh_view_incremental", ops)),
        "incremental_gold.changes": n_changes,
        "incremental_gold.touched_keys": n_keys,
    }
    reads = tracer.named("json_source.read_collection", ops)
    out["json_source.read_s"] = duration(reads)
    out["json_source.calls"] = len(reads)
    builds = tracer.named("amt.build", ops)
    out["amt.plan_s"] = sum(tracer.self_time(b) for b in builds)
    # rows in the gold files the tick wrote, per landed change
    rewritten = sum(pq.ParquetFile(f).metadata.num_rows
                    for f in parquet_files(os.path.join(gold, str(SY)))
                    if os.path.getmtime(f) >= tick_wall)
    out["incremental_gold.rows_rewritten_per_change"] = (
        rewritten / max(n_changes, 1))
    if samples:
        out["sql.plan_ms"] = statistics.median(s[2] for s in samples)
        out["sql.exec_ms"] = statistics.median(s[3] for s in samples)
        for shape in queries.SHAPES:
            lat = [s[2] + s[3] for s in samples if s[0] == shape]
            out[f"query.{shape}_p50_ms"] = (
                statistics.median(lat) if lat else 0.0)
    return out
