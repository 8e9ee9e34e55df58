"""Benchmark of the transcript -> knowledge-graph pipeline.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one Spark session on
``local[<cores>]``, closed loop: the next op starts when the previous one
returns. Workloads (see BENCHMARK.json and perfbench/spec.json):

- ``kg_build``: one op = the default ``scripts/run_pipeline.py`` build of a
  generated transcript table into an empty directory (extract ->
  canonicalize -> 256-bucket parquet write with manifests, ``.count()``);
  traced runs then also run ``graph.entity_salience(top_k=100)``,
  ``pagerank`` and ``vertex_table`` over the table just written;
- ``kg_resume``: one op = append a batch of late turns to existing
  conversations, re-run the snapshot-format build (resume), ``.count()``;
  run by hand, it is not in BENCHMARK.json (see spec.json for why);
- ``analytics_sf01``: one op = one analytics leaf's ``.count()`` over
  generated scale-factor-0.1 tables; each pass visits every leaf in a
  seed-permuted order.

Set-up (session, input generation, initial build, one untimed warm-up op)
is timed as ``setup_s``. Outputs are checked against independent oracles;
an op whose output fails its check counts as failed. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``; per-layer metrics,
from spans around each call into the program and Spark's event log folded
per span, with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()  # set-up time counts from interpreter start
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

N_BUCKETS = 256
# The JVM heap is fixed (-Xms = -Xmx): with the JVM resizing its heap,
# peak RSS varied by a quarter between runs and op times by about 10%.
HEAP = "3g"
TRIPLE_KEY = ["conv_id", "subj", "pred", "obj", "turn_idx", "sent_idx",
              "evidence", "id"]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least 10 samples beyond it, or the
    maximum when a run holds fewer than 11 samples."""
    s = sorted(xs)
    i = len(s) - 11
    if i < 0:
        return (s[-1] if s else 0.0), 100.0
    return s[i], round(100.0 * (i + 1) / len(s), 1)


class Run:
    """Shared state of one benchmark run: session, tracer, op records."""

    def __init__(self, args, spec: dict):
        from tracing import Tracer

        self.args, self.spec = args, spec
        self.tracer = Tracer(bool(args.trace))
        self.ops: list[dict] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {"workload": args.workload, "seed": args.seed}
        self.spark = None

    def start_spark(self):
        for d in ("local", "tmp", "eventlog"):
            os.makedirs(os.path.join(WORK, d), exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
        os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} "
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
                "spark.eventLog.compress": "false",
            })
        t = time.perf_counter()
        from xwikire_spark.session import get_spark

        self.spark = get_spark(
            f"perfbench-{self.args.workload}", master=f"local[{cores()}]",
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("FATAL")
        self.layer["session.get_spark_s"] = time.perf_counter() - t
        self.tracer.sc = self.spark.sparkContext

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for the Spark JVM")

    def window(self, op, min_ops: int) -> None:
        """Closed loop for --seconds: starts another op only while it is
        expected to end inside the window, and runs at least min_ops."""
        t_end = time.perf_counter() + self.args.seconds
        walls: list[float] = []
        while len(walls) < min_ops or (
            time.perf_counter() + median(walls) <= t_end
        ):
            rec = {"op": len(self.ops), "failed": False}
            self.tracer.op = rec["op"]
            t = time.perf_counter()
            try:
                with self.tracer.span("op"):
                    op(rec)
            except Exception as e:  # noqa: BLE001 - a failed op is data
                traceback.print_exc()
                rec["failed"] = True
                rec["error"] = repr(e)[:300]
            rec["wall_s"] = time.perf_counter() - t
            walls.append(rec["wall_s"])
            self.ops.append(rec)
        self.tracer.op = None

    def stop(self):
        if self.spark is None:
            return
        proc = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        from pyspark import SparkContext

        SparkContext._gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        self.spark = None


# --------------------------------------------------------------------------
# KG pipeline workloads
# --------------------------------------------------------------------------


class KG:
    """Inputs and the CLI default build for the two pipeline workloads."""

    def __init__(self, run: Run, n_convs: int, table_format: str):
        import inputs

        self.run, self.fmt = run, table_format
        spark = run.spark
        t = time.perf_counter()
        self.rows = inputs.generate_corpus(run.args.seed, n_convs, 4)
        run.layer["datagen.generate_s"] = time.perf_counter() - t
        run.detail["input_turns"] = len(self.rows)
        run.detail["input_digest"] = inputs.table_digest(self.rows)
        self.paths = inputs.write_corpus(
            self.rows, os.path.join(WORK, "in"), 2 * cores())
        self.alias = spark.read.parquet(self.paths["alias_dict"])
        self.preds = spark.read.parquet(self.paths["predicate_dict"])
        self.read_transcripts()

    def read_transcripts(self):
        self.transcripts = self.run.spark.read.parquet(self.paths["transcripts"])

    def build_fn(self, df):
        from xwikire_spark.pipeline.canonicalize import canonicalize_triples
        from xwikire_spark.pipeline.extraction import extract_triples

        return canonicalize_triples(
            extract_triples(df, self.alias, self.preds), self.alias)

    def build(self, out_dir: str, rec: dict | None = None):
        """run_with_manifests + count, as scripts/run_pipeline.py runs it.
        Traced runs first time the layers of the same call in isolation."""
        from xwikire_spark.pipeline.manifests import run_with_manifests

        tr = self.run.tracer
        if tr.enabled and rec is not None and rec["op"] >= 0:
            t = time.perf_counter()
            self.decompose(out_dir, rec)
            rec["isolation_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tr.span("manifests"):
            table = run_with_manifests(
                self.run.spark, self.transcripts, self.build_fn, out_dir,
                n_buckets=N_BUCKETS, table_format=self.fmt,
            )
        with tr.span("manifests.readback"):
            n = table.count()
        return table, n, time.perf_counter() - t

    def decompose(self, out_dir: str, rec: dict) -> None:
        from pyspark.sql import functions as F
        from xwikire_spark.pipeline.extraction import extract_triples
        from xwikire_spark.pipeline.manifests import (
            pending_buckets, with_bucket)

        tr = self.run.tracer
        with tr.span("manifests.pending_buckets"):
            todo = pending_buckets(
                self.run.spark, self.transcripts, out_dir, N_BUCKETS)
        rec["buckets_reprocessed"] = len(todo)
        subset = with_bucket(self.transcripts, N_BUCKETS).where(
            F.col("part_bucket").isin(todo)).drop("part_bucket")
        with tr.span("extraction"):
            noop(extract_triples(subset, self.alias, self.preds))
        with tr.span("canonicalize"):
            noop(self.build_fn(subset))

    def oracle(self) -> list[tuple]:
        """The pure-Python reference extraction over the same rows, mapped
        through the canonical map (TRIPLE_KEY tuples)."""
        import hashlib

        from oracle.reference_impl import extract_triples_oracle
        from xwikire_spark import datagen

        alias_pairs = [(a, e) for a, e, _, _ in datagen.ALIASES]
        pred_surfaces = []
        for pid, label, aliases in datagen.PREDICATES:
            pred_surfaces.append((label, pid))
            pred_surfaces.extend((a, pid) for a in aliases)
        canon = canonical_map(alias_pairs)
        out = []
        for w in extract_triples_oracle(self.rows, alias_pairs, pred_surfaces):
            s = canon.get(w["subj"], w["subj"])
            o = canon.get(w["obj"], w["obj"])
            tid = hashlib.sha1(f"{s} {w['pred']} {o}".encode()).hexdigest()
            out.append((w["conv_id"], s, w["pred"], o, w["turn_idx"],
                        w["sent_idx"], w["evidence"], tid))
        return out

    def collect_table(self, table) -> list[tuple]:
        return [tuple(r) for r in table.select(*TRIPLE_KEY).collect()]


def canonical_map(alias_pairs: list[tuple[str, str]]) -> dict[str, str]:
    """canonicalize.canonical_entity_map in plain Python: entities sharing
    an alias surface (at most DEFAULT_MAX_ALIAS_FANOUT entities per
    surface) form one component, labelled by its smallest entity id."""
    from xwikire_spark.pipeline.canonicalize import DEFAULT_MAX_ALIAS_FANOUT

    parent = {e: e for _, e in alias_pairs}

    def find(e):
        while parent[e] != e:
            e = parent[e]
        return e

    by_surface: dict[str, set] = {}
    for a, e in alias_pairs:
        by_surface.setdefault(a, set()).add(e)
    for ents in by_surface.values():
        if len(ents) <= DEFAULT_MAX_ALIAS_FANOUT:
            roots = sorted({find(e) for e in ents})
            for r in roots[1:]:
                parent[r] = roots[0]
    return {e: find(e) for e in parent}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def files_under(d: str) -> int:
    return sum(n.endswith(".parquet") for _, _, ns in os.walk(d) for n in ns)


def run_kg_build(run: Run) -> None:
    from xwikire_spark.pipeline.graph import (
        entity_salience, pagerank, vertex_table)

    kg = KG(run, run.spec["workloads"]["kg_build"]["n_convs"], "parquet")
    tr = run.tracer
    want: dict = {}

    def op(rec):
        out_dir = os.path.join(WORK, f"out-{rec['op']}")
        table, n, build_s = kg.build(out_dir, rec)
        rec.update(build_s=build_s, rows=n,
                   files_written=files_under(os.path.join(out_dir, "triples")))
        ok = not want or (n == len(want["triples"]) and sorted(
            kg.collect_table(table)) == want["triples"])
        if tr.enabled and rec["op"] >= 0:
            with tr.span("graph"):
                sal = [tuple(r) for r in
                       entity_salience(table, top_k=100).collect()]
            ok = ok and salience_matches(sal, want["salience"])
            edges = table.selectExpr("subj AS src", "obj AS dst")
            with tr.span("graph.pagerank"):
                pagerank(edges).count()
            with tr.span("graph.vertex_table"):
                vertex_table(table).count()
        # deleted while its pages are still dirty: on a disk mounted with
        # discard, removing files already written back costs seconds
        shutil.rmtree(out_dir)
        if not ok:
            raise AssertionError("written triples or salience differ from "
                                 "the oracle")

    op({"op": -1})  # warm-up, part of set-up
    run.e2e["setup_s"] = time.perf_counter() - T_START
    t = time.perf_counter()
    want["triples"] = sorted(kg.oracle())
    want["salience"] = salience_reference(
        [(w[1], w[3], w[0]) for w in want["triples"]], 100)
    run.detail["check"] = {"oracle_triples": len(want["triples"]),
                           "oracle_s": time.perf_counter() - t}
    # traced ops also run the graph layer, so fewer fit the 180 s limit
    run.window(op, min_ops=2 if tr.enabled else 3)
    run.e2e["peak_rss_mb"] = run.jvm_peak_rss_mb()
    good = [r for r in run.ops if not r["failed"]]
    build_s = median([r["build_s"] for r in good])
    run.e2e.update(
        op_s=build_s,
        rows_per_s=(good[0]["rows"] / build_s) if good else 0.0,
    )
    run.detail.update(samples=len(good), build_s=build_s,
                      triples=good[0]["rows"] if good else 0,
                      triples_per_s=run.e2e["rows_per_s"])


def salience_reference(triples, top_k: int) -> list[tuple]:
    """entity_salience semantics in plain Python: PageRank over (subj,
    obj) edges, ranks summing to N, dangling mass spread evenly, 10
    iterations at 0.85; degrees and distinct conversations per entity;
    top_k by (-rank, entity_id)."""
    ids = sorted({s for s, _, _ in triples} | {o for _, o, _ in triples})
    n = len(ids)
    out = {v: 0 for v in ids}
    ind = {v: 0 for v in ids}
    convs = {v: set() for v in ids}
    pairs: dict = {}
    for s, o, c in triples:
        out[s] += 1
        ind[o] += 1
        convs[s].add(c)
        convs[o].add(c)
        pairs[(s, o)] = pairs.get((s, o), 0) + 1
    r = {v: 1.0 for v in ids}
    for _ in range(10):
        msg = {v: 0.0 for v in ids}
        for (s, o), cnt in pairs.items():
            msg[o] += r[s] * cnt / out[s]
        dang = sum(r[v] for v in ids if out[v] == 0)
        r = {v: 0.15 + 0.85 * (msg[v] + dang / n) for v in ids}
    order = sorted(ids, key=lambda v: (-r[v], v))[:top_k]
    return [(i + 1, v, r[v], out[v], ind[v], len(convs[v]))
            for i, v in enumerate(order)]


def salience_matches(got: list[tuple], want: list[tuple]) -> bool:
    if [g[:2] for g in got] != [w[:2] for w in want]:
        return False
    return all(abs(g[2] - w[2]) < 1e-6 and tuple(g[3:]) == tuple(w[3:])
               for g, w in zip(got, want))


def run_kg_resume(run: Run) -> None:
    import inputs
    from xwikire_spark.sources import snapshots

    spec = run.spec["workloads"]["kg_resume"]
    kg = KG(run, spec["n_convs"], "snapshot")
    out_dir = os.path.join(WORK, "out")
    kg.build(out_dir)  # initial table, part of set-up
    rng = random.Random(run.args.seed)
    next_turn: dict = {}
    for r in kg.rows:
        next_turn[r["conv_id"]] = max(next_turn.get(r["conv_id"], 0),
                                      r["turn_idx"] + 1)
    root = os.path.join(out_dir, "triples")
    batch = [0]

    def op(rec):
        inc = inputs.make_increment(rng, next_turn, spec["late_convs"],
                                    spec["late_turns"], batch[0])
        inputs.write_increment(inc, kg.paths["transcripts"], batch[0])
        batch[0] += 1
        kg.rows.extend(inc)
        kg.read_transcripts()
        _, n, _ = kg.build(out_dir, rec)
        v = snapshots.current_version(root)
        meta = snapshots.snapshot_meta(root, v)
        rec.update(rows=n, live_files=meta["total_files"], versions=v,
                   files_written=meta["added_files"])

    op({"op": -1})  # warm-up, part of set-up
    run.e2e["setup_s"] = time.perf_counter() - T_START
    run.window(op, min_ops=2)
    run.e2e["peak_rss_mb"] = run.jvm_peak_rss_mb()
    t = time.perf_counter()
    got = kg.collect_table(snapshots.read_table(run.spark, root))
    fresh = kg.oracle()
    ok = sorted(got) == sorted(fresh)
    if not ok and run.ops:
        run.ops[-1]["failed"] = True
    run.detail["check"] = {"table_equals_oracle_full_build": ok,
                           "triples": len(fresh),
                           "check_s": time.perf_counter() - t}
    good = [r for r in run.ops if not r["failed"]]
    walls = [r["wall_s"] - r.get("isolation_s", 0.0) for r in good]
    resume_tail, pct = tail(walls)
    run.e2e.update(
        op_s=median(walls),
        rows_per_s=(good[-1]["rows"] / median(walls)) if good else 0.0,
    )
    run.detail.update(
        samples=len(good), resume_s=median(walls), resume_tail_s=resume_tail,
        resume_tail_percentile=pct,
        late_turns_per_op=spec["late_convs"] * spec["late_turns"],
        snapshot_live_files=good[-1]["live_files"] if good else 0,
        snapshot_versions=good[-1]["versions"] if good else 0,
    )


# --------------------------------------------------------------------------
# Analytics leaves
# --------------------------------------------------------------------------


def leaves() -> list[str]:
    """The pinned leaf list: the analytics.<leaf>_s names in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["per_layer"]]
    return [n[len("analytics."):-2] for n in names
            if n.startswith("analytics.") and n.count(".") == 1]


def run_analytics(run: Run) -> None:
    import __spark_entry__ as entry
    import inputs

    names = leaves()
    sf_dir = os.path.join(WORK, "sf0.1")
    t = time.perf_counter()
    tables = inputs.sf_tables(run.args.seed, 0.1)
    run.layer["datagen.generate_s"] = time.perf_counter() - t
    run.detail["input_digest"] = inputs.table_digest(
        [{"table": k, "digest": inputs.table_digest(v)}
         for k, v in sorted(tables.items())])
    inputs.write_sf_tables(tables, sf_dir)
    del tables
    qs = {**entry.queries(),
          "kg_entity_salience": entry.q_kg_entity_salience}
    spark, tr = run.spark, run.tracer

    # warm-up pass: collect every leaf once and check it (check time is
    # timed apart and taken out of set-up)
    frames = {name: qs[name](spark, sf_dir).toPandas() for name in names}
    t = time.perf_counter()
    verdicts = check_analytics(frames, sf_dir)
    check_s = time.perf_counter() - t
    expected_rows = {name: len(df) for name, df in frames.items()}
    bad = {name for name, ok in verdicts.items() if not ok}
    del frames
    run.e2e["setup_s"] = time.perf_counter() - T_START - check_s

    rng = random.Random(run.args.seed)
    order: list[str] = []
    passes = [0]

    def op(rec):
        if not order:
            order.extend(rng.sample(names, len(names)))
            passes[0] += 1
        name = order.pop(0)
        rec.update(leaf=name, pass_=passes[0])
        t = time.perf_counter()
        with tr.span(f"analytics.{name}"):
            n = qs[name](spark, sf_dir).count()
        rec["leaf_s"] = time.perf_counter() - t
        rec["rows"] = n
        if n != expected_rows[name] or name in bad:
            raise AssertionError(f"{name}: {n} rows, checked {expected_rows[name]}")

    run.window(op, min_ops=len(names))
    run.e2e["peak_rss_mb"] = run.jvm_peak_rss_mb()
    good = [r for r in run.ops if not r["failed"]]
    per_leaf = {n: median([r["leaf_s"] for r in good if r["leaf"] == n])
                for n in names}
    run.detail.update(
        samples=len(good), passes=passes[0], leaf_s=per_leaf,
        analytics_pass_s=sum(per_leaf.values()),
        check={"leaves_failing_check": sorted(bad), "check_s": check_s},
    )
    run.e2e.update(
        op_s=run.detail["analytics_pass_s"],
        rows_per_s=sum(expected_rows.values()) / run.detail["analytics_pass_s"],
    )


def check_analytics(frames: dict, sf_dir: str) -> dict[str, bool]:
    """Each leaf vs its oracle_sql() in DuckDB (normalized as
    scripts/check_oracle.py does); kg_entity_salience vs the plain-Python
    salience of the oracle's triples."""
    import duckdb

    import __spark_entry__ as entry
    from scripts.check_oracle import TABLES, normalize

    con = duckdb.connect()
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET threads = {cores()}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = entry.oracle_sql()
    out = {}
    for name, got in frames.items():
        if name == "kg_entity_salience":
            tri = con.sql(entry.KG_TRIPLES_SQL).fetchall()
            want = salience_reference([(r[1], r[3], r[4]) for r in tri], 100)
            have = [tuple(r) for r in got[
                ["salience_rank", "entity_id", "rank", "out_degree",
                 "in_degree", "conv_mentions"]].itertuples(index=False)]
            out[name] = len(want) > 0 and salience_matches(have, want)
            continue
        a, b = normalize(got), normalize(con.sql(oracles[name]).df())
        out[name] = (len(a) > 0 and list(a.columns) == list(b.columns)
                     and len(a) == len(b) and a.equals(b))
    con.close()
    return out


# --------------------------------------------------------------------------
# Per-layer metrics from the spans
# --------------------------------------------------------------------------

SPAN_SETS = ("extraction", "canonicalize", "manifests.pending_buckets",
             "manifests", "manifests.readback", "graph", "graph.pagerank",
             "graph.vertex_table", "analytics.pass")


def layer_metrics(run: Run, names: list[str]) -> dict[str, float]:
    from tracing import COUNTERS, fold_event_log, rollup

    spans = run.tracer.spans
    fold_event_log(os.path.join(WORK, "eventlog"), spans)
    rollup(spans)
    os.makedirs(OUT, exist_ok=True)
    run.tracer.write(os.path.join(
        OUT, f"spans-{run.args.workload}-{run.args.seed}.jsonl"))
    ok = {r["op"] for r in run.ops if not r["failed"]}
    per_op: dict[int, dict[str, dict]] = {}
    for s in spans:
        if s["op"] in ok:
            per_op.setdefault(s["op"], {})[s["name"]] = s["totals"]
    # the analytics pass: every leaf span of one complete pass summed
    leaves_in = {}
    for r in run.ops:
        if "leaf" in r and r["op"] in ok:
            leaves_in[r["pass_"]] = leaves_in.get(r["pass_"], 0) + 1
    for r in run.ops:
        if "leaf" in r and r["op"] in ok and leaves_in[r["pass_"]] == len(names):
            leaf = per_op.get(r["op"], {}).get(f"analytics.{r['leaf']}")
            if leaf:
                acc = per_op.setdefault(-1000 - r["pass_"], {}).setdefault(
                    "analytics.pass", {k: 0 for k in leaf})
                for k, v in leaf.items():
                    acc[k] += v
    for ops in per_op.values():
        if "canonicalize" in ops and "extraction" in ops:
            ops["canonicalize"] = {
                k: ops["canonicalize"][k] - ops["extraction"].get(k, 0)
                for k in ops["canonicalize"]}

    def med(span, key):
        return median([o[span][key] for o in per_op.values() if span in o])

    m = {}
    for span in SPAN_SETS:
        for c in COUNTERS:
            m[f"{span}.{c}"] = med(span, c)
    m["extraction.extract_s"] = med("extraction", "wall_s")
    for k in ("python_run_s", "python_bytes_sent", "python_bytes_returned",
              "scan_s"):
        m[f"extraction.{k}"] = med("extraction", k)
    m["manifests.scan_s"] = med("manifests", "scan_s")
    m["analytics.pass.scan_s"] = med("analytics.pass", "scan_s")
    m["canonicalize.self_s"] = med("canonicalize", "wall_s")
    m["manifests.pending_buckets_s"] = med("manifests.pending_buckets", "wall_s")
    m["manifests.readback_s"] = med("manifests.readback", "wall_s")
    m["manifests.write_commit_s"] = median([
        o["manifests"]["wall_s"] - o["manifests.pending_buckets"]["wall_s"]
        - o["canonicalize"]["wall_s"] - o["extraction"]["wall_s"]
        for o in per_op.values()
        if {"manifests", "manifests.pending_buckets", "canonicalize",
            "extraction"} <= o.keys()])
    m["graph.entity_salience_s"] = med("graph", "wall_s")
    m["graph.pagerank_s"] = med("graph.pagerank", "wall_s")
    m["graph.vertex_table_s"] = med("graph.vertex_table", "wall_s")
    good = [r for r in run.ops if r["op"] in ok]
    for k, name in (("buckets_reprocessed", "manifests.buckets_reprocessed"),
                    ("files_written", "manifests.files_written")):
        m[name] = median([r[k] for r in good if k in r])
    for leaf in names:
        m[f"analytics.{leaf}_s"] = median(
            [r["leaf_s"] for r in good if r.get("leaf") == leaf])
    # op_s as the untraced run measures it; the difference is the overhead
    m["tracing.op_s"] = run.e2e["op_s"]
    m["session.get_spark_s"] = run.layer["session.get_spark_s"]
    m["datagen.generate_s"] = run.layer["datagen.generate_s"]
    m["failed_ops_ratio"] = run.detail["failed_ops_ratio"]
    return m


# --------------------------------------------------------------------------


def main(argv=None) -> int:
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(spec["workloads"]))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    # the library's defaults, with its core count pinned to this machine
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ.pop("SPARK_GRAFT_MAX_PARTITION_BYTES", None)
    import pyspark  # noqa: F401 - fail before set-up if Spark is missing

    import __spark_entry__  # noqa: F401
    import xwikire_spark  # noqa: F401

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    shutil.rmtree(WORK, ignore_errors=True)
    run = Run(args, spec)
    try:
        run.start_spark()
        {"kg_build": run_kg_build, "kg_resume": run_kg_resume,
         "analytics_sf01": run_analytics}[args.workload](run)
        attempted = len(run.ops)
        failed = sum(r["failed"] for r in run.ops)
        run.detail["failed_ops_ratio"] = failed / max(attempted, 1)
        run.detail["errors"] = [r["error"] for r in run.ops if "error" in r][:3]
        pinned = spec["input_digests"].get(args.workload, {}).get(str(args.seed))
        run.detail["input_digest_pinned"] = pinned
        run.detail.update(run.e2e)
        if args.trace:
            run.stop()
            values = layer_metrics(run, leaves())
            wanted = bench["per_layer"]
        else:
            values = run.e2e
            wanted = bench["end_to_end"]
    finally:
        t = time.perf_counter()
        run.stop()
        shutil.rmtree(WORK, ignore_errors=True)
        run.detail["teardown_s"] = time.perf_counter() - t
    run.detail["wall_s"] = time.perf_counter() - T_START
    registered = {w["name"] for w in bench["workloads"]}
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if args.workload in registered and missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in wanted if m["name"] in values}
    correct = (failed == 0 and attempted > 0
               and (pinned is None or pinned == run.detail["input_digest"]))
    print(json.dumps(run.detail, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
