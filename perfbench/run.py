"""Closed-loop benchmark of ``pipeline.run_pipeline`` on the sf0.1 corpus.

Run from the repository root::

    python3 perfbench/run.py --workload fresh_sf01 --seed 1 --seconds 5 --trace 0

One client runs one pass at a time in one process, on ``local[N]`` with N
the CPUs this process may use, in a session built by the program's own
``session.get_spark``.  A pass runs ``run_pipeline`` and counts the
committed triples.  Set-up starts the session, writes the seed's input,
and either builds the crashed table a resume workload starts from or runs
``WARM_PASSES`` untimed passes; only then are passes timed, for
``--seconds`` seconds.  Every pass is checked against the DuckDB oracle's
digest.  ``--trace 1`` wraps the pipeline's calls (``spans.py``), writes
Spark's event log into the run directory and reports per-layer metrics
(``eventlog.py``) instead of the end-to-end ones.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  The full record of the run, every warm and
timed pass included, is written to ``perfbench/_work/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.getcwd()
WORK = os.path.join(HERE, "_work")
DOCS = os.path.join(HERE, "data", "documents.parquet")
N_BUCKETS = 16

#: workload -> the ``fail_after`` its starting table crashed with
WORKLOADS = {
    "fresh_sf01": None,
    "resume_detect_sf01": {"mentions": 8},
    "resume_link_sf01": {"canon": 8},
}
#: untimed passes a fresh build runs before the timed ones; a resume
#: workload's crash build is its untimed run.  A fixed count, so every run
#: times the same point of the JIT/GC warm-up curve (see DESIGN.md)
WARM_PASSES = 1
#: row-group sizes the seed picks from for the input file
ROW_GROUPS = (250, 625, 1250, 2500, 5000)


def configure_env(n: int, heap_mib: int, run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``run_dir``
    and size the session from the host."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mib}m"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # the spark-submit launcher JVM and the driver JVM: no hsperfdata file
    # and no temp file outside the run dir
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        os.environ[var] = " ".join(filter(None, [
            os.environ.get(var), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
        ]))
    # pin the driver heap (-Xms = -Xmx): a heap that grows on demand makes
    # the JVM's RSS high-water mark vary by 10-20% from run to run
    os.environ["SPARK_SUBMIT_OPTS"] += f" -Xms{heap_mib}m"


def make_input(seed: int, out_dir: str) -> str:
    """The documents file with rows and row groups permuted by ``seed``;
    the set of rows, and so the expected triples, never changes."""
    import numpy as np
    import pyarrow.parquet as pq

    table = pq.read_table(DOCS)
    rng = np.random.default_rng(seed)
    perm = rng.permutation(table.num_rows)
    os.makedirs(out_dir)
    pq.write_table(table.take(perm), os.path.join(out_dir, "documents.parquet"),
                   row_group_size=int(rng.choice(ROW_GROUPS)))
    return out_dir


def table_state(root: str) -> dict:
    from ehr_ner_spark.io.icetable import IceTable

    snap = IceTable(root).current_snapshot() or {"seq": -1, "stages": {}}
    files = {f for st in snap["stages"].values()
             for b in st["buckets"].values() for f in b["files"]}
    buckets = sum(len(st["buckets"]) for st in snap["stages"].values())
    return {"seq": snap["seq"], "files": files, "buckets": buckets}


class Bench:
    def __init__(self, spark, input_dir: str, run_dir: str, oracle: dict,
                 tracer=None):
        self.spark = spark
        self.input_dir = input_dir
        self.run_dir = run_dir
        self.oracle = oracle
        self.tracer = tracer
        self.base = None
        self.root = os.path.join(run_dir, "table")
        self.passes: list[dict] = []

    def build_crashed_base(self, crash: dict) -> None:
        """The table a crashed run left: ``crash`` stage committed only
        8 of its 16 buckets."""
        from ehr_ner_spark.io.icetable import IceTable
        from ehr_ner_spark.pipeline import run_pipeline

        self.base = os.path.join(self.run_dir, "crashed")
        try:
            run_pipeline(self.spark, self.input_dir, self.base,
                         n_buckets=N_BUCKETS, fail_after=crash)
        except RuntimeError as e:
            if "simulated crash" not in str(e):
                raise
        else:
            raise RuntimeError("crash build did not crash")
        (stage, k), = crash.items()
        got = len(IceTable(self.base).committed_buckets(stage))
        if got != k:
            raise RuntimeError(f"crashed table has {got} {stage} buckets, not {k}")

    def one_pass(self, phase: str) -> dict:
        from ehr_ner_spark.cache import release_all
        from ehr_ner_spark.pipeline import run_pipeline

        from host import steal_s, tree_cpu_s
        from oracle import committed_triples

        shutil.rmtree(self.root, ignore_errors=True)
        if self.base:
            shutil.copytree(self.base, self.root)
        rec: dict = {"phase": phase, "ok": False}
        tracing = self.tracer is not None and phase == "timed"
        before = table_state(self.root) if tracing else None
        s0, c0, t0 = steal_s(), tree_cpu_s(), time.perf_counter()
        try:
            triples = run_pipeline(self.spark, self.input_dir, self.root,
                                   n_buckets=N_BUCKETS)
            if tracing:
                with self.tracer.span("read", "icetable", "count"):
                    n = triples.count()
            else:
                n = triples.count()
        except Exception:  # a failed pass is counted, the run goes on
            rec["error"] = traceback.format_exc(limit=3)
            n = None
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = tree_cpu_s() - c0
        rec["steal_s"] = steal_s() - s0
        release_all()
        if n is not None:
            got = committed_triples(self.root)
            rec.update(count=n, rows=got["rows"], docs=got["docs"],
                       digest=got["digest"])
            rec["ok"] = (got["digest"] == self.oracle["digest"]
                         and n == got["rows"] == self.oracle["rows"])
        if tracing:
            after = table_state(self.root)
            new = after["files"] - before["files"]
            rec["icetable"] = {
                "icetable.commits": after["seq"] - before["seq"],
                "icetable.files_written": len(new),
                "icetable.bytes_written": sum(
                    os.path.getsize(os.path.join(self.root, f)) for f in new),
                "icetable.buckets_skipped": before["buckets"],
            }
        self.passes.append(rec)
        return rec

    def warm(self) -> None:
        if self.base is None:
            for _ in range(WARM_PASSES):
                self.one_pass("warm")

    def timed(self, seconds: float) -> list[dict]:
        out: list[dict] = []
        t0 = time.perf_counter()
        while not out or time.perf_counter() - t0 < seconds:
            if self.tracer is not None:
                self.tracer.pass_no = len(out)
            out.append(self.one_pass("timed"))
        if self.tracer is not None:
            self.tracer.pass_no = None
        return out


def linking_counts(spark, root: str) -> dict:
    """Surfaces, LSH candidate pairs and verified edges of the committed
    mentions — the work canonicalize does, counted with the program's own
    linking steps outside any timed pass."""
    from ehr_ner_spark.cache import release_all
    from ehr_ner_spark.io.icetable import IceTable
    from ehr_ner_spark.operators.linking import (
        candidate_pairs, surface_signatures, verified_edges,
    )

    mentions = IceTable(root).read_stage(spark, "mentions")
    sigs = surface_signatures(mentions).persist()
    pairs = candidate_pairs(sigs).persist()
    out = {
        "canonicalize.surfaces": sigs.count(),
        "canonicalize.candidate_pairs": pairs.count(),
        "canonicalize.edges": verified_edges(sigs, pairs, 0.5).count(),
    }
    pairs.unpersist()
    sigs.unpersist()
    release_all()
    out["canonicalize.pair_precision"] = (
        out["canonicalize.edges"] / out["canonicalize.candidate_pairs"]
        if out["canonicalize.candidate_pairs"] else 0.0)
    return out


def declared_units(section: str) -> dict:
    """name -> unit of the metrics ``BENCHMARK.json`` declares."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def untraced_baseline(args) -> dict:
    """The untraced run's record for this workload in this checkout; if
    there is none yet, make one first."""
    path = os.path.join(WORK, f"untraced-{args.workload}.json")
    if not os.path.exists(path):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            check=True, stdout=subprocess.DEVNULL, timeout=900,
        )
    with open(path) as f:
        return json.load(f)


def layer_metrics(bench: Bench, events_dir: str, session_s: float,
                  timed: list[dict], baseline: dict, n: int):
    """The per-layer metrics (medians over the timed passes) and the
    per-pass rows they come from."""
    from eventlog import EventLog, pass_layers

    (log_file,) = os.listdir(events_dir)
    log = EventLog.read(os.path.join(events_dir, log_file))
    rows = []
    for i, rec in enumerate(timed):
        row = pass_layers(log, bench.tracer.spans, i, rec["wall_s"] * 1000.0, n)
        row.update(rec.get("icetable", {}))
        rows.append(row)
    out = {k: statistics.median([r[k] for r in rows]) for k in rows[0]}
    out["session.start_s"] = session_s
    out["trace.overhead"] = (statistics.median([r["wall_s"] for r in timed])
                             / baseline["wall_s"])
    return out, rows


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "ehr_ner_spark", "pipeline.py")):
        sys.exit("perfbench: run from the repository root: "
                 "ehr_ner_spark/ is not here")
    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    import host

    # the untraced reference run and the oracle are the benchmark's own
    # work: their time is kept out of setup_s
    t = time.perf_counter()
    baseline = untraced_baseline(args) if args.trace else None
    excluded_s = time.perf_counter() - t

    n = host.cpus()
    heap = host.driver_heap_mib(host.mem_total_mib())
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    configure_env(n, heap, run_dir)

    from oracle import oracle_digest

    oracle = oracle_digest(DOCS, os.path.join(WORK, "oracle.json"),
                           os.environ["TMPDIR"])
    excluded_s += oracle["derive_s"]
    input_dir = make_input(args.seed, os.path.join(run_dir, "input"))

    from ehr_ner_spark.session import get_spark

    extra = {}
    events_dir = os.path.join(run_dir, "events")
    if args.trace:
        os.makedirs(events_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra=extra)
    session_s = time.perf_counter() - t
    try:
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        bench = Bench(spark, input_dir, run_dir, oracle, tracer)
        crash = WORKLOADS[args.workload]
        if crash:
            bench.build_crashed_base(crash)
        if tracer:
            tracer.install()
        bench.warm()
        setup_s = time.perf_counter() - T_START - excluded_s
        timed = bench.timed(args.seconds)
        if tracer:
            tracer.uninstall()
        extra_counts = linking_counts(spark, bench.root) if args.trace else {}
        peak_rss = host.spark_peak_rss_mib()
        stamp = host.host_stamp(spark, n, heap)
    finally:
        host.stop_spark(spark)

    ok = [r for r in timed if r["ok"]]
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "host": stamp,
        "oracle": {k: oracle[k] for k in ("rows", "digest", "derive_s")},
        "session_s": session_s, "setup_s": setup_s,
        "failed_frac": 1 - len(ok) / len(timed),
        "passes": bench.passes,
    }
    if args.trace:
        metrics, rows = layer_metrics(bench, events_dir, session_s, timed,
                                      baseline, n)
        metrics.update(extra_counts)
        record["layers_per_pass"] = rows
        # ROADMAP item 1: the layer spans must cover each pass to within 10%
        record["attribution_ok"] = all(
            r["pipeline.unattributed_frac"] <= 0.10 for r in rows)
        if not record["attribution_ok"]:
            print("perfbench: a traced pass has more than 10% of its time "
                  "outside every layer span", file=sys.stderr)
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(bench.tracer.spans, f)
    else:
        metrics = {
            "wall_s": statistics.median([r["wall_s"] for r in timed]),
            "docs_per_sec": statistics.median([r.get("docs", 0) / r["wall_s"] for r in timed]),
            "cpu_s": statistics.median([r["cpu_s"] for r in timed]),
            "peak_rss_mib": peak_rss,
            "setup_s": setup_s,
            "ok_frac": len(ok) / len(timed),
        }
    record["metrics"] = metrics
    with open(os.path.join(run_dir, "artifact.json"), "w") as f:
        json.dump(record, f, indent=1)
    if not args.trace:
        with open(os.path.join(WORK, f"untraced-{args.workload}.json"), "w") as f:
            json.dump(metrics, f)
    units = declared_units("per_layer" if args.trace else "end_to_end")
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise RuntimeError(f"metrics declared but not measured: {missing}")
    print(json.dumps({
        "correct": len(ok) == len(timed),
        "attempted": len(timed),
        "failed": len(timed) - len(ok),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
