"""PhageClouds benchmark: cloud serving (with Cypher write sessions) and
whole-graph batch jobs over a seeded synthetic phage graph.

    python3 perfbench/run.py --workload cloud_serve --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload graph_batch --seed 1 --steady 5

Run from the repository root. The program is driven only through its public
functions (session, sources, cypher, plans.clouds, operators.graph,
graphframe). The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer ones. Every operation of
the timed section is checked afterwards against perfbench/oracle.py. See
perfbench/README.md for the workloads, the metrics and how to read a trace.
"""

from __future__ import annotations

import argparse
import gc
import glob
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "phageclouds_graphdatabase_spark"
RUN_BASE = os.path.join(ROOT, ".perfbench_run")
RESULTS = os.path.join(ROOT, ".perfbench_results")

WORKLOADS = ("cloud_serve", "graph_batch")
DATA_SIZE = {"cloud_serve": "serve", "graph_batch": "batch"}

CPUS = len(os.sched_getaffinity(0))
HEAP = "2g"  # fixed JVM heap: -Xms = -Xmx, so G1 never resizes it mid-run
# C1-only JIT. In runs this short, C2 compilations compete with the workload
# for the 4 cores and finish at different moments in every run; C1 code is
# steady within the warm-up. (cloud_serve, 5 seeds: median latency 2.3 s and
# 0.18 relative spread C1-only, against 2.7 s and 0.28 with tiered C2.)
# C1 alone gets a 48 MB code cache by default, which this program fills
# within a run; once full, the JVM stops compiling.
JIT = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"
SETUPS = 5  # set-ups per run; setup_s is the median of all but the first
SERVE_CLIENTS = min(2, CPUS)
THRESHOLDS = (0.1, 0.15, 0.25)
SERVE_KINDS = ("curate", "taxon", "family_genus", "family_subfamily", "host", "host_harsh", "cypher_taxon")
GRAPH_T = 0.25  # whole-graph jobs run on the sharesDNA graph thresholded here
WARM_T = 0.1  # the warm-up pass runs the same jobs on this smaller subgraph
PR_ITERS, CORE_ROUNDS, LPA_ITERS = 2, 2, 2
WCC_LOCAL_EDGES, SCC_LOCAL_EDGES = 1_000_000, 5_000_000  # the operators' driver-local cutoffs

# Every SPARK_GRAFT_* setting the program reads, pinned (None = unset, the
# program's own default applies), so parent and change run alike.
PINNED = {
    "SPARK_GRAFT_CPUS": str(CPUS),
    "SPARK_GRAFT_DRIVER_MEM": HEAP,
    "SPARK_GRAFT_SHUFFLE_PARTITIONS": "32",
    "SPARK_GRAFT_BFS_ADVISORY": "1m",
    "SPARK_GRAFT_BFS_LAZY_K": "4",
    "SPARK_GRAFT_BFS_MIN_PARTITION": "64k",
    "SPARK_GRAFT_COREDEC_ROUND_BATCH": "4",
    "SPARK_GRAFT_FASTRP_LAZY_ITERS": "4",
    "SPARK_GRAFT_ITER_LAZY": "4",
    "SPARK_GRAFT_KTRUSS_ADVISORY": "256k",
    "SPARK_GRAFT_KTRUSS_FINE": "state",
    "SPARK_GRAFT_LOOP_BCAST_ROWS": "4000000",
    "SPARK_GRAFT_NODESIM_MEMB_BCAST_ROWS": "4000000",
    "SPARK_GRAFT_STREAM_STATE_PARTITIONS": None,
    "SPARK_GRAFT_STREAM_STATE_TARGET_BYTES": None,
}


T_START = time.perf_counter()


def say(*parts) -> None:
    print(f"# [{time.perf_counter() - T_START:5.1f}s]", *parts, flush=True)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


# --------------------------------------------------------------------------
# environment
# --------------------------------------------------------------------------


def check_program() -> None:
    """Refuse to run (non-zero, no result) unless the program sits beside the
    benchmark, and unless every setting it reads is pinned here."""
    pkg = os.path.join(ROOT, PKG)
    if not os.path.isfile(os.path.join(pkg, "__init__.py")):
        fail(f"program package {PKG}/ not found under {ROOT}")
    read = set()
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as f:
            read.update(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", f.read()))
    unpinned = sorted(read - set(PINNED))
    if unpinned:
        fail(f"the program reads settings the benchmark does not pin: {unpinned}")


def pin_env(run_dir: str) -> None:
    stray = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_") and k not in PINNED)
    if stray:
        fail(f"unpinned SPARK_GRAFT_* settings in the environment: {stray}")
    for k, v in PINNED.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v
    for sub in ("tmp", "local", "wh", "events"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    sys.path.insert(0, ROOT)


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def wait_quiet(limit_s: float = 20.0) -> tuple[float, float]:
    """Wait (bounded) until the 1-minute load is below the core count.
    Returns (load when the wait ended, seconds waited)."""
    t0 = time.monotonic()
    while loadavg() >= CPUS and time.monotonic() - t0 < limit_s:
        time.sleep(1.0)
    return loadavg(), time.monotonic() - t0


def rss_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


# --------------------------------------------------------------------------
# set-up: session, at-rest ingest, load
# --------------------------------------------------------------------------


@dataclass
class Graph:
    nodes: object
    edges: object
    infects: object
    lineages: object
    catalog: object


def start_session(run_dir: str, event_log: bool):
    from phageclouds_graphdatabase_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} {JIT} -Djava.io.tmpdir={run_dir}/tmp",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "wh"),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(paths: dict, run_dir: str, tr, event_log: bool):
    """One fresh set-up: start the session, write the generated tables in
    their at-rest layout through the sinks, read them back through the
    readers and build the Cypher catalog."""
    from phageclouds_graphdatabase_spark.cypher import phage_catalog
    from phageclouds_graphdatabase_spark.sources import readers, sinks

    at = os.path.join(run_dir, "at_rest")
    with tr.span("session.start"):
        spark = start_session(run_dir, event_log)
    with tr.span("sources.ingest"):
        sinks.write_edges_at_rest(readers.read_shares_dna(spark, paths["shares_dna"]), f"{at}/shares_dna")
        sinks.write_parquet(readers.read_phage_nodes(spark, paths["phage_nodes"]), f"{at}/phage_nodes")
        sinks.write_parquet(readers.read_infects(spark, paths["infects"]), f"{at}/infects")
    with tr.span("sources.load"):
        nodes = readers.read_phage_nodes(spark, f"{at}/phage_nodes")
        edges = readers.read_shares_dna(spark, f"{at}/shares_dna")
        infects = readers.read_infects(spark, f"{at}/infects")
        lineages = readers.read_lineages_csv(spark, paths["lineages"])
        catalog = phage_catalog(nodes, edges, infects)
    return spark, Graph(nodes, edges, infects, lineages, catalog)


def warm_page_cache(paths: dict) -> None:
    for p in paths.values():
        with open(p, "rb") as f:
            while f.read(1 << 20):
                pass


# --------------------------------------------------------------------------
# request streams (seeded; the program sees only the generated files)
# --------------------------------------------------------------------------


def _zipf_pick(rng: random.Random, pool: list, s: float = 1.1):
    weights = [1.0 / (i + 1) ** s for i in range(len(pool))]
    return rng.choices(pool, weights)[0]


def name_pools(data: dict, rng: random.Random) -> dict[str, list[str]]:
    """Genera, families and hosts in a narrow band of member counts, so
    that request cost depends little on which name is drawn; each pool in a
    seeded popularity order."""
    ncbi_tax = [t for t, s in zip(data["phage_nodes"]["taxonomy"], data["phage_nodes"]["source"]) if s == "NCBI"]
    genus_n = {g: 0 for g in data["names"]["genera"]}
    for t in ncbi_tax:
        last = t.rsplit(";", 1)[-1]
        if last in genus_n:
            genus_n[last] += 1
    fam_n = {}
    for row in data["lineages"]:
        fam_n[row[6]] = fam_n.get(row[6], 0) + 1
    host_n = {}
    for h in data["infects"]["host_genus"]:
        host_n[h] = host_n.get(h, 0) + 1
    fam_n.pop("", None)
    pools = {
        "genus": _band(genus_n, 12, 25),
        "family": _band(fam_n, 80, 160),
        "host": _band(host_n, 40, 90),
    }
    for v in pools.values():
        rng.shuffle(v)
    return pools


def _band(counts: dict[str, int], lo: int, hi: int, at_least: int = 5) -> list[str]:
    """Names whose count lies in [lo, hi], topped up with the nearest ones
    outside it to ``at_least`` names."""
    dist = sorted((max(lo - n, n - hi, 0), name) for name, n in counts.items())
    return sorted(name for k, (d, name) in enumerate(dist) if d == 0 or k < at_least)


def serve_stream(data: dict, seed: int, n: int, warm: bool = False) -> list[dict]:
    """The closed-loop request sequence: a fixed cycle of request kinds,
    thresholds rotating over 0.1/0.15/0.25 within and across cycles, names
    Zipf-drawn so that popular (name, threshold) pairs repeat. The warm-up
    stream draws from the two least popular names of each pool, which the
    timed stream never uses, so it leaves nothing cached for the timed ops.

    A ``curate`` request is one write session: a new genome merged in and
    linked to an existing one, the genomes of a genus updated, and one of
    that genus's genomes deleted with its edges."""
    rng = random.Random(seed)
    pools = name_pools(data, rng)
    accs = data["phage_nodes"]["accession"]
    members = {}
    for a, tax in zip(accs, data["phage_nodes"]["taxonomy"]):
        members.setdefault(tax.rsplit(";", 1)[-1], []).append(a)
    out = []
    for i in range(n):
        kind = SERVE_KINDS[i % len(SERVE_KINDS)]
        pool = {"taxon": "genus", "cypher_taxon": "genus", "curate": "genus",
                "host": "host", "host_harsh": "host"}.get(kind, "family")
        t = THRESHOLDS[(i + i // len(SERVE_KINDS)) % len(THRESHOLDS)]
        name = rng.choice(pools[pool][-2:]) if warm else _zipf_pick(rng, pools[pool][:-2])
        op = {"kind": kind, "name": name, "t": t}
        if kind == "curate":
            op.update({
                "new": f"QQ{int(warm)}{i:06d}",
                "other": accs[rng.randrange(len(accs))],
                "genus": op["name"],
                "victim": rng.choice(members[op["name"]]),
                "size": rng.randrange(12_000, 372_000),
                "distance": 0.12,
                "bump": 1000,
            })
        out.append(op)
    return out


def session_queries(s: dict) -> list[tuple[str, str]]:
    """(write, read-after-write) pairs of one session."""
    return [
        (
            f"MERGE (n:PhageGenome {{accession:'{s['new']}'}}) "
            f"ON CREATE SET n.source = 'NCBI', n.genome_size = {s['size']} ON MATCH SET n.genome_size = 0",
            f"MATCH (n:PhageGenome {{accession:'{s['new']}'}}) RETURN n.accession, n.source, n.genome_size",
        ),
        (
            f"MATCH (a:PhageGenome {{accession:'{s['new']}'}}), (b:PhageGenome {{accession:'{s['other']}'}}) "
            f"CREATE (a)-[:sharesDNA {{distance: {s['distance']}}}]->(b)",
            f"MATCH (a:PhageGenome {{accession:'{s['new']}'}})-[r:sharesDNA]->(b:PhageGenome) "
            "RETURN b.accession, r.distance",
        ),
        (
            f"MATCH (a:PhageGenome) WHERE a.taxonomy CONTAINS '{s['genus']}' "
            f"SET a.genome_size = a.genome_size + {s['bump']}",
            f"MATCH (a:PhageGenome) WHERE a.taxonomy CONTAINS '{s['genus']}' RETURN a.accession, a.genome_size",
        ),
        (
            f"MATCH (a:PhageGenome {{accession:'{s['victim']}'}}) DETACH DELETE a",
            f"MATCH (a:PhageGenome)-[r:sharesDNA]->(b:PhageGenome) WHERE a.taxonomy CONTAINS '{s['genus']}' "
            "RETURN a.accession, b.accession, r.distance",
        ),
    ]


# --------------------------------------------------------------------------
# operations
# --------------------------------------------------------------------------


def plan_nodes(df) -> int:
    return len(df._jdf.queryExecution().analyzed().treeString().splitlines())


def collect_cypher(eng, query: str, tr) -> list[tuple]:
    """Run a Cypher read and collect it. Traced, parse and compile are
    timed apart (CypherEngine.run is exactly parse + compile for a read)."""
    if not tr.enabled:
        return [tuple(r) for r in eng.run(query).collect()]
    from phageclouds_graphdatabase_spark.cypher import parse

    with tr.span("cypher.parse"):
        ast = parse(query)
    with tr.span("cypher.compile"):
        df = eng.compile(ast, {})
    tr.count("cypher.plan_nodes", plan_nodes(df))
    with tr.span("spark.plan"):
        df._jdf.queryExecution().executedPlan()
    with tr.span("spark.action"):
        rows = [tuple(r) for r in df.collect()]
    tr.count("result_rows", len(rows))
    return rows


def cypher_taxon(eng, taxon: str, t: float, tr) -> tuple:
    """The reference taxon script's three queries: seed + expand, then the
    induced edges and the attributes with the node set interpolated as
    IN-lists (phageclouds_gdb.py's client-side set union)."""
    q1 = (
        f"MATCH (a:PhageGenome {{source:'NCBI'}})-[r:sharesDNA]->(b:PhageGenome) "
        f"WHERE a.taxonomy CONTAINS '{taxon}' AND r.distance <= {t} "
        f"RETURN a.accession AS {taxon}_phage, b.accession AS target_phage;"
    )
    r1 = collect_cypher(eng, q1, tr)
    ns = sorted({x for pair in r1 for x in pair})
    q2 = (
        f"MATCH (a:PhageGenome)-[r:sharesDNA]->(b:PhageGenome) WHERE a.accession in {ns} "
        f"AND b.accession in {ns} AND r.distance <= {t} "
        "RETURN a.accession AS Source, b.accession AS Target, r.distance as Distance;"
    )
    q3 = (
        f"MATCH (a:PhageGenome) WHERE a.accession in {ns} RETURN a.accession as Phage, a.source as Source, "
        f"a.genome_size as Genome_size, a.taxonomy CONTAINS '{taxon}' as Phage_is_{taxon};"
    )
    return r1, collect_cypher(eng, q2, tr), collect_cypher(eng, q3, tr)


def serve_one(g: Graph, spark, req: dict, tr):
    from phageclouds_graphdatabase_spark.cypher import CypherEngine
    from phageclouds_graphdatabase_spark.plans import clouds
    from phageclouds_graphdatabase_spark.sources import sinks

    kind, name, t = req["kind"], req["name"], req["t"]
    if kind == "curate":
        return write_one(g, spark, req, tr)
    if kind == "cypher_taxon":
        return cypher_taxon(CypherEngine(g.catalog, spark), name, t, tr)
    with tr.span("plans.clouds.build"):
        if kind == "taxon":
            c = clouds.clouds_by_taxon(g.nodes, g.edges, name, t)
        elif kind.startswith("family"):
            c = clouds.clouds_by_family(g.nodes, g.edges, g.lineages, name, kind.split("_")[1], t)
        else:
            c = clouds.clouds_by_host(g.nodes, g.edges, g.infects, name, t, harsh=kind == "host_harsh")
    if tr.enabled:
        with tr.span("spark.plan"):
            c.nodes._jdf.queryExecution().executedPlan()
            c.edges._jdf.queryExecution().executedPlan()
    with tr.span("sources.render"):
        vn, ve = sinks.cloud_to_vis_dicts(c.nodes, c.edges)
    tr.count("sources.rendered_rows", len(vn) + len(ve))
    tr.count("result_rows", len(vn) + len(ve))
    return vn, ve


def write_one(g: Graph, spark, s: dict, tr) -> list[list[tuple]]:
    """One write session from the loaded catalog: each write makes a new
    copy-on-write catalog, and the read after it runs on that catalog."""
    from phageclouds_graphdatabase_spark.cypher import CypherEngine

    eng = CypherEngine(g.catalog, spark)
    reads = []
    for write, read in session_queries(s):
        with tr.span("cypher.apply"):
            cat = eng.apply(write)
        if tr.enabled:
            tr.count("cypher.catalog_depth",
                     plan_nodes(cat.node("PhageGenome").df) + plan_nodes(cat.rel("sharesDNA").df))
        eng = CypherEngine(cat, spark)
        reads.append(collect_cypher(eng, read, tr))
    return reads


GRAPH_JOBS = ("wcc", "pagerank", "scc", "coredec", "triangles", "lpa")
JOB_SPAN = {j: f"operators.graph.{j}" for j in GRAPH_JOBS[:-1]} | {"lpa": "graphframe.lpa"}


def batch_one(g: Graph, spark, t: float, tr) -> dict:
    """One whole pass: the six whole-graph jobs in a fixed order, over the
    sharesDNA graph thresholded at ``t``."""
    from pyspark.sql import functions as F

    from phageclouds_graphdatabase_spark.graphframe import GraphFrame
    from phageclouds_graphdatabase_spark.operators import graph as G

    e = g.edges.filter(F.col("distance") <= t)
    jobs = {
        "wcc": lambda: G.connected_components(e),
        "pagerank": lambda: G.pagerank_scaled(e, iterations=PR_ITERS),
        "scc": lambda: G.strongly_connected_components(e),
        "coredec": lambda: G.core_decomposition(e, rounds=CORE_ROUNDS),
        "triangles": lambda: G.triangle_counts(e),
        "lpa": lambda: GraphFrame(g.nodes.select(F.col("accession").alias("id")), e).labelPropagation(LPA_ITERS),
    }
    out = {}
    for name in GRAPH_JOBS:
        with tr.span(JOB_SPAN[name]):
            out[name] = jobs[name]().collect()
        tr.count("result_rows", len(out[name]))
    return out


# --------------------------------------------------------------------------
# closed loop
# --------------------------------------------------------------------------


def closed_loop(ops: list, run_one, clients: int, seconds: float, tr) -> dict:
    """``clients`` threads take the next operation from the shared list and
    run it, until ``seconds`` have passed; operations started before then
    run to the end. Returns the samples and the wall interval."""
    lock = threading.Lock()
    nxt = iter(enumerate(ops))
    samples = []
    t0 = time.perf_counter()
    wall0 = time.time()
    deadline = t0 + seconds

    def client(ci: int) -> None:
        while True:
            with lock:
                if time.perf_counter() >= deadline:
                    return
                try:
                    i, op = next(nxt)
                except StopIteration:
                    return
            start = time.perf_counter()
            try:
                with tr.op(str(i)):
                    out, err = run_one(op, tr), None
            except Exception:  # a failed operation is counted, not fatal
                out, err = None, traceback.format_exc()
            end = time.perf_counter()
            with lock:
                samples.append({"i": i, "client": ci, "op": op, "start": start, "end": end, "out": out, "err": err})

    threads = [threading.Thread(target=client, args=(c,), name=f"client-{c}") for c in range(clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    samples.sort(key=lambda s: s["i"])
    t1 = max((s["end"] for s in samples), default=time.perf_counter())
    return {"samples": samples, "t0": t0, "t1": t1, "wall0": wall0, "wall1": wall0 + (t1 - t0)}


def e2e_from(section: dict) -> dict:
    lat = sorted(s["end"] - s["start"] for s in section["samples"] if s["err"] is None)
    # each client works back to back from t0, so client c completes n_c
    # operations in (end of its last one - t0): summing the clients' rates
    # counts no operation partly
    per_client = {}
    for s in section["samples"]:
        n, last = per_client.get(s["client"], (0, section["t0"]))
        per_client[s["client"]] = (n + 1, max(last, s["end"]))
    out = {
        "latency_p50_s": statistics.median(lat) if lat else float("nan"),
        "ops_per_s": sum(n / (last - section["t0"]) for n, last in per_client.values()),
        "samples": len(lat),
    }
    # a higher percentile only where at least 10 samples lie beyond it
    for p in (99, 95, 90):
        if len(lat) * (100 - p) / 100 >= 10:
            out[f"latency_p{p}_s"] = lat[min(len(lat) - 1, int(len(lat) * p / 100))]
            break
    return out


def say_latency_by_kind(samples: list) -> None:
    """Each request kind's latencies, and the kinds the median falls on: with
    a few samples per kind, the p50 is one or two requests of one kind."""
    by_kind = {}
    for s in samples:
        if s["err"] is None:
            by_kind.setdefault(s["op"]["kind"], []).append(s["end"] - s["start"])
    say("latency by kind (s): " + "; ".join(
        f"{k} " + " ".join(f"{x:.2f}" for x in by_kind[k]) for k in SERVE_KINDS if k in by_kind))
    ranked = sorted((s["end"] - s["start"], s["op"]["kind"]) for s in samples if s["err"] is None)
    if ranked:
        mid = {ranked[(len(ranked) - 1) // 2][1], ranked[len(ranked) // 2][1]}
        say(f"latency_p50_s falls on: {' and '.join(sorted(mid))} (n={len(ranked)})")


# --------------------------------------------------------------------------
# JVM and Spark probes
# --------------------------------------------------------------------------


def retained_mb(spark) -> float:
    """JVM heap in use after forced full collections, repeated until the
    figure settles: Spark's context cleaner drops the blocks of collected
    broadcasts and checkpoints asynchronously, so one collection leaves
    them behind."""
    # Python first: py4j releases a JVM object only when its Python proxy
    # is collected, and proxies caught in reference cycles wait for the
    # cyclic collector, whose timing would otherwise show up here
    gc.collect()
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(12):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        readings.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        if len(readings) >= 4 and max(readings[-3:]) - min(readings[-3:]) < 1.0:
            break
    return min(readings)


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000


def storage(spark) -> tuple[int, int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.numCachedPartitions() for i in infos), sum(i.memSize() + i.diskSize() for i in infos)


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it launched, and wait for it to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def spark_events(paths: list[str], wall0: float, wall1: float) -> dict:
    """Jobs, stages and tasks submitted in [wall0, wall1], from the event log."""
    lo, hi = wall0 * 1000, wall1 * 1000
    jobs, stage_job, stage_sub = {}, {}, {}
    tasks = []
    for ev in _events(paths):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart" and lo <= ev["Submission Time"] <= hi:
            jobs[ev["Job ID"]] = [ev["Submission Time"], None]
            for st in ev["Stage Infos"]:
                stage_job[st["Stage ID"]] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if info["Stage ID"] in stage_job:
                stage_sub[(info["Stage ID"], info["Stage Attempt ID"])] = info.get("Submission Time")
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
            ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            tasks.append({
                "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                "launch": ti["Launch Time"],
                "finish": ti["Finish Time"],
                "records_in": (tm.get("Input Metrics") or {}).get("Records Read", 0),
                "shuffle_w": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
            })
    # wall time covered by at least one job (jobs of two clients overlap)
    spans = sorted((s, e) for s, e in jobs.values() if e is not None)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    wait = sum(max(0, t["launch"] - stage_sub[t["stage"]]) for t in tasks if stage_sub.get(t["stage"]))
    return {
        "jobs": len(jobs),
        "stages": len(stage_sub),
        "tasks": len(tasks),
        "execute_s": covered / 1000,
        "sched_wait_s": wait / 1000,
        "task_busy_s": sum(t["finish"] - t["launch"] for t in tasks) / 1000,
        "records_in": sum(t["records_in"] for t in tasks),
        "shuffle_bytes": sum(t["shuffle_w"] for t in tasks),
    }


# --------------------------------------------------------------------------
# correctness
# --------------------------------------------------------------------------


def check(workload: str, samples: list, oracle_mod, orc) -> list[str]:
    """Compare every sample against the oracle; returns one verdict line per
    failed operation (and marks the sample)."""
    bad = []
    expected_graph = None
    for s in samples:
        op, out = s["op"], s["out"]
        if s["err"] is not None:
            s["ok"] = False
            bad.append(f"op {s['i']} {op} raised: {s['err'].strip().splitlines()[-1]}")
            continue
        if workload == "cloud_serve":
            kind, name, t = op["kind"], op["name"], op["t"]
            if kind == "curate":
                got = [sorted(r) for r in out]
                want = orc.write_session(op)
            elif kind == "cypher_taxon":
                got = tuple(sorted(rows) for rows in out)
                want = orc.cypher_taxon(name, t)
            else:
                got = oracle_mod.canonical_cloud(*out)
                if kind == "taxon":
                    want = orc.cloud_taxon(name, t)
                elif kind.startswith("family"):
                    want = orc.cloud_family(name, kind.split("_")[1], t)
                else:
                    want = orc.cloud_host(name, t, kind == "host_harsh")
        else:
            if expected_graph is None:
                expected_graph = oracle_mod.graph_jobs(
                    orc.graph_edges(op), orc.all_accessions(), PR_ITERS, CORE_ROUNDS, LPA_ITERS
                )
            got = {k: {r[0]: r[1] for r in rows} for k, rows in out.items()}
            want = expected_graph
        s["ok"] = got == want
        if not s["ok"]:
            bad.append(f"op {s['i']} {op}: result differs from the oracle: {_first_difference(got, want)}")
    return bad


def _first_difference(got, want, path: str = "") -> str:
    """Where two nested results first differ, for the failure report."""
    if isinstance(got, dict) and isinstance(want, dict):
        for k in sorted(set(got) | set(want), key=str):
            if got.get(k) != want.get(k):
                return _first_difference(got.get(k), want.get(k), f"{path}[{k!r}]")
    elif isinstance(got, (list, tuple)) and isinstance(want, (list, tuple)):
        for k, (a, b) in enumerate(zip(got, want)):
            if a != b:
                return _first_difference(a, b, f"{path}[{k}]")
        if len(got) != len(want):
            return f"{path}: {len(got)} items, expected {len(want)}"
    return f"{path}: got {got!r:.300}, expected {want!r:.300}"


# --------------------------------------------------------------------------
# one run
# --------------------------------------------------------------------------


def source_hash() -> str:
    """Hash of the program's and the benchmark's sources: an untraced result
    is reused for a traced run only while neither has changed."""
    h = hashlib.sha1()
    for path in sorted(glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True)
                       + glob.glob(os.path.join(HERE, "*.py"))):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def result_path(args) -> str:
    """Where an untraced run records its end-to-end figures, so that a
    traced run of the same workload, seed, length and sources can report
    its overhead against them."""
    return os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-{args.seconds:g}s-{source_hash()}.json")


def run(args) -> dict:
    check_program()
    run_dir = os.path.join(RUN_BASE, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUN_BASE)
        except OSError:
            pass


def _run(args, run_dir: str) -> dict:
    pin_env(run_dir)
    import gen
    import oracle as oracle_mod
    from spans import NullTracer, Tracer

    load0, waited = wait_quiet()
    say(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
        f"cpus={CPUS} heap={HEAP}")
    say(f"loadavg before={load0:.2f} (waited {waited:.1f} s for a quiet machine)")

    data = gen.generate(args.seed, DATA_SIZE[args.workload])
    paths = gen.write(data, os.path.join(run_dir, "data"))
    warm_page_cache(paths)
    n_graph = sum(1 for d in data["shares_dna"]["distance"] if d <= GRAPH_T)
    say(f"input: {len(data['phage_nodes']['accession'])} genomes, {len(data['shares_dna']['src'])} "
        f"sharesDNA edges, {len(data['infects']['src'])} infects rows")

    # The first set-up also launches the JVM; setup_s is the median of the
    # fresh set-ups after it.
    setup_tr = Tracer() if args.trace else NullTracer()
    setup_times = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        os.sync()  # no write-back of earlier files competes with the timed ingest
        t = time.perf_counter()
        spark, g = setup(paths, run_dir, setup_tr, args.trace)
        setup_times.append(time.perf_counter() - t)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    say("setup_s each (the first includes the JVM launch): " + " ".join(f"{x:.3f}" for x in setup_times))

    if args.workload == "cloud_serve":
        ops = serve_stream(data, args.seed, 5000)
        warm = serve_stream(data, args.seed, len(SERVE_KINDS), warm=True)
        clients = SERVE_CLIENTS

        def run_one(op, tr):
            return serve_one(g, spark, op, tr)
    else:
        ops = [GRAPH_T] * 1000
        warm = [WARM_T]
        clients = 1

        def run_one(op, tr):
            return batch_one(g, spark, op, tr)
        say(f"graph: {n_graph} edges at distance <= {GRAPH_T}; connected_components takes the "
            + ("driver-local union-find" if n_graph <= WCC_LOCAL_EDGES else "distributed contraction")
            + f" path (cutoff {WCC_LOCAL_EDGES} edges); strongly_connected_components takes the "
            + ("driver-local Tarjan" if n_graph <= SCC_LOCAL_EDGES else "distributed trim + colouring")
            + f" path (cutoff {SCC_LOCAL_EDGES} edges)")

    t = time.perf_counter()
    closed_loop(warm, run_one, clients, float("inf"), NullTracer())
    say(f"warm-up: {len(warm)} ops in {time.perf_counter() - t:.2f} s (untimed)")
    # Read after the warm-up's fixed list of operations, not after the timed
    # section: the program keeps state per operation served (each cloud
    # request leaves its node set cached), so a reading after the timed
    # section would grow with throughput and show a speed-up as a regression.
    retained = retained_mb(spark)
    say(f"retained_mb {retained:.1f} MB after set-up and the {len(warm)} warm-up ops")

    tr = Tracer() if args.trace else NullTracer()
    gc0 = gc_seconds(spark)
    section = closed_loop(ops, run_one, clients, args.seconds, tr)
    gc_s = gc_seconds(spark) - gc0
    cached = storage(spark)
    e2e = e2e_from(section)
    e2e["retained_mb"] = retained
    e2e["setup_s"] = statistics.median(setup_times[1:])
    if args.trace:
        heap_end = retained_mb(spark)
        say(f"heap after the timed section: {heap_end:.1f} MB, "
            f"{(heap_end - retained) / max(1, len(section['samples'])):+.1f} MB per timed op")
    app_id = spark.sparkContext.applicationId
    peak_rss = rss_hwm_mb(os.getpid()) + rss_hwm_mb(jvm_pid)
    say("stopping Spark")
    stop_spark(spark)
    load1 = loadavg()
    say("Spark stopped; checking results against the oracle")

    orc = oracle_mod.Oracle(paths)
    try:
        bad = check(args.workload, section["samples"], oracle_mod, orc)
    finally:
        orc.close()
    for line in bad[:20]:
        say("FAILED", line)
    attempted = len(section["samples"])
    failed = len(bad)

    say(f"loadavg after={load1:.2f}")
    say(f"timed section: {attempted} ops in {section['t1'] - section['t0']:.2f} s; latency of each: "
        + " ".join(f"{s['end'] - s['start']:.2f}" for s in section["samples"]))
    if args.workload == "cloud_serve":
        seen, rep = set(), 0
        for s in section["samples"]:
            rep += (s["op"]["name"], s["op"]["t"]) in seen
            seen.add((s["op"]["name"], s["op"]["t"]))
        say(f"requests repeating an earlier (name, t): {rep} of {attempted}")
        say_latency_by_kind(section["samples"])
    for k in sorted(e2e):
        if k.startswith("latency_p") and k != "latency_p50_s":
            say(f"{k} {e2e[k]:.4f} s (n={e2e['samples']}, at least 10 samples beyond it)")

    units = {"latency_p50_s": "s", "ops_per_s": "1/s", "setup_s": "s", "retained_mb": "MB"}
    e2e_metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}
    n = {"setup_s": SETUPS - 1, "retained_mb": 1}
    for k, m in e2e_metrics.items():
        say(f"{k} {m['value']:.6g} {m['unit']} (n={n.get(k, e2e['samples'])})")
    if not args.trace:
        os.makedirs(RESULTS, exist_ok=True)
        with open(result_path(args), "w") as f:
            json.dump({k: e2e[k] for k in units}, f)
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": e2e_metrics}

    section.update(gc_s=gc_s, storage=cached, tracer=tr)
    metrics = layer_metrics(args.workload, section, setup_tr, run_dir, app_id, n_graph, peak_rss)
    if os.path.exists(result_path(args)):
        with open(result_path(args)) as f:
            ref = json.load(f)
        for k in ("latency_p50_s", "ops_per_s"):
            say(f"tracing overhead on {k}: traced {e2e[k]:.5g} vs untraced {ref[k]:.5g} "
                f"({(e2e[k] / ref[k] - 1) * 100:+.1f}%; untraced run of the same seed and ops)")
    else:
        say(f"tracing overhead: no untraced run of seed {args.seed} ({args.seconds:g} s, these sources) "
            "in this checkout; run the same command with --trace 0 first")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


# --------------------------------------------------------------------------
# per-layer metrics (traced run)
# --------------------------------------------------------------------------

# per-layer metric -> unit; README.md says how each is derived and which
# end-to-end metric it should move
LAYER_UNITS = {
    "session.start_s": "s", "sources.ingest_s": "s", "sources.load_s": "s",
    "plans.clouds.build_s": "s", "sources.render_s": "s", "sources.rendered_rows": "count",
    "cypher.parse_s": "s", "cypher.compile_s": "s", "cypher.plan_nodes": "count",
    "cypher.apply_s": "s", "cypher.catalog_depth": "count",
    "operators.graph.wcc_s": "s", "operators.graph.pagerank_s": "s", "operators.graph.scc_s": "s",
    "operators.graph.coredec_s": "s", "operators.graph.triangles_s": "s", "graphframe.lpa_s": "s",
    "operators.graph.edges_per_s": "1/s",
    "spark.plan_s": "s", "spark.execute_s": "s",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "spark.sched_wait_s": "s", "spark.busy_share": "ratio", "spark.rows_examined_per_result": "ratio",
    "spark.shuffle_bytes_per_op": "bytes", "jvm.gc_s": "s",
    "spark.cached_blocks_end": "count", "spark.storage_bytes_end": "bytes",
    "process.peak_rss_mb": "MB",
}


def layer_metrics(workload: str, traced: dict, setup_tr, run_dir: str, app_id: str, n_edges: int,
                  peak_rss: float) -> dict:
    tr = traced["tracer"]
    ops = max(1, len(traced["samples"]))
    wall = traced["t1"] - traced["t0"]
    summ = tr.summary()
    setup_summ = setup_tr.summary()
    vals, notes = {}, {}

    say(f"per-layer trace: {ops} ops in {wall:.2f} s; span name: count, total_s, self_s (self = total - children)")
    for name in sorted(setup_summ):
        s = setup_summ[name]
        say(f"  span {name}: count={s['count']} total={s['total_s']:.4f} self={s['self_s']:.4f} (set-ups)")
        # like setup_s: the median of the set-ups after the one that launched the JVM
        vals[name + "_s"] = statistics.median([sp.total_s for sp in setup_tr.spans if sp.name == name][1:])
    for name in sorted(summ):
        s = summ[name]
        say(f"  span {name}: count={s['count']} total={s['total_s']:.4f} self={s['self_s']:.4f}")
        if name + "_s" in LAYER_UNITS:
            vals[name + "_s"] = s["self_s"] / ops
    for name in ("sources.rendered_rows",):
        if tr.counts.get(name):
            vals[name] = sum(tr.counts[name]) / ops
    for name in ("cypher.plan_nodes", "cypher.catalog_depth"):
        if tr.counts.get(name):
            vals[name] = statistics.mean(tr.counts[name])
    # edges processed per second of operators.graph job time, over every pass
    graph_jobs = [summ[f"operators.graph.{j}"] for j in GRAPH_JOBS[:-1] if f"operators.graph.{j}" in summ]
    if graph_jobs:
        vals["operators.graph.edges_per_s"] = (n_edges * sum(j["count"] for j in graph_jobs)
                                               / sum(j["total_s"] for j in graph_jobs))

    # event log v2: a directory per application holding numbered parts
    logs = sorted(glob.glob(os.path.join(run_dir, "events", f"*{app_id}*", f"events_*_{app_id}*")),
                  key=lambda p: int(os.path.basename(p).split("_")[1]))
    if logs:
        ev = spark_events(logs, traced["wall0"], traced["wall1"])
        say(f"  spark: jobs={ev['jobs']} stages={ev['stages']} tasks={ev['tasks']} "
            f"execute={ev['execute_s']:.3f}s sched_wait={ev['sched_wait_s']:.3f}s busy={ev['task_busy_s']:.3f}s "
            f"records_in={ev['records_in']} shuffle_bytes={ev['shuffle_bytes']}")
        vals["spark.execute_s"] = ev["execute_s"] / ops
        vals["spark.jobs_per_op"] = ev["jobs"] / ops
        vals["spark.stages_per_op"] = ev["stages"] / ops
        vals["spark.tasks_per_op"] = ev["tasks"] / ops
        vals["spark.sched_wait_s"] = ev["sched_wait_s"] / ops
        vals["spark.busy_share"] = ev["task_busy_s"] / (wall * CPUS)
        vals["spark.shuffle_bytes_per_op"] = ev["shuffle_bytes"] / ops
        results = sum(tr.counts.get("result_rows", []))
        vals["spark.rows_examined_per_result"] = ev["records_in"] / max(1, results)
    else:
        notes["spark.*"] = "event log not found"
    vals["jvm.gc_s"] = traced["gc_s"] / ops
    vals["spark.cached_blocks_end"], vals["spark.storage_bytes_end"] = traced["storage"]
    vals["process.peak_rss_mb"] = peak_rss

    metrics = {}
    for name, unit in LAYER_UNITS.items():
        if name not in vals:
            notes.setdefault(name, f"not exercised by {workload}")
        metrics[name] = {"value": float(vals.get(name, 0.0)), "unit": unit}
        say(f"  {name} {metrics[name]['value']:.6g} {unit}" + (f" ({notes[name]})" if name in notes else ""))
    return metrics


# --------------------------------------------------------------------------
# steadiness mode
# --------------------------------------------------------------------------


def steady(args) -> None:
    """Repeat the workload with seeds seed..seed+n-1 (one process each) and
    print each end-to-end metric's median, quartiles and relative spread."""
    values: dict[str, list[float]] = {}
    for k in range(args.steady):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload, "--seed",
               str(args.seed + k), "--seconds", str(args.seconds), "--trace", "0"]
        res = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        lines = res.stdout.strip().splitlines()
        if res.returncode != 0 or not lines:
            fail(f"run {k} failed ({res.returncode}): {res.stderr[-2000:]}")
        out = json.loads(lines[-1])
        print(f"seed {args.seed + k}: correct={out['correct']} attempted={out['attempted']} "
              f"failed={out['failed']} " + " ".join(f"{m}={v['value']:.5g}" for m, v in out["metrics"].items()),
              flush=True)
        for m, v in out["metrics"].items():
            values.setdefault(m, []).append(v["value"])
    summary = {}
    for m, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        summary[m] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}
        print(f"{m}: median={med:.5g} q1={q1:.5g} q3={q3:.5g} spread={(q3 - q1) / med:.4f}", flush=True)
    print(json.dumps({"workload": args.workload, "runs": args.steady, "summary": summary}))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="N",
                    help="repeat the untraced workload N times over N seeds and print the spread")
    args = ap.parse_args()
    if args.steady:
        steady(args)
        return
    result = run(args)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
