"""Seeded knowledge-graph-construction benchmark.

    python3 perfbench/run.py --workload extract_longsent --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` (cached under
``.perfbench/cache``), sets up a fresh ``local[nproc]`` session, runs the
workload in a closed loop (one job at a time) for ``--seconds`` seconds,
checks every pass against an independent oracle, and prints one JSON object
as the last line of standard output. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` the per-layer ones (see README.md). Exits non-zero
when an output is wrong or the program's sources are not beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "triples_per_s": "1/s",
    "py_worker_peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.jvm_s": "s", "session.worker_warm_s": "s",
    "normalize.s": "s", "normalize.tasks": "count",
    "sentencize.s": "s", "sentencize.sentences": "count", "sentencize.max_task_s": "s",
    "extract.s": "s", "extract.candidates": "count", "extract.candidates_per_sentence": "ratio",
    "extract.failed_tasks": "count",
    "kernel.featurize_us": "us", "kernel.attention_us": "us", "kernel.process_us": "us",
    "kernel.walk_us": "us", "kernel.sent_p99_us": "us", "kernel.native": "flag",
    "rerank.embed_us": "us",
    "distill.s": "s", "distill.triples": "count",
    "rerank.window_s": "s",
    "linking.s": "s", "linking.linked_share": "ratio",
    "canonicalize.s": "s",
    "graph.materialize_s": "s", "graph.vertices": "count", "graph.edges": "count",
    "catalog.checkpoint_s": "s", "catalog.read_s": "s", "catalog.bytes_written": "bytes",
    "catalog.files_written": "count",
    "graph.triangle_s": "s", "graph.kcore_s": "s", "graph.ktruss_s": "s",
    "graph.components_s": "s", "graph.link_pred_s": "s", "graph.edges_in": "count",
    "graph.kcore_round_s": "s", "graph.ktruss_round_s": "s", "graph.link_pred_shuffle_mb": "MB",
    "spark.stages": "count", "spark.tasks": "count", "spark.failed_tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "trace.layer_sum_s": "s", "trace.untraced_wall_s": "s", "trace.overhead_s": "s",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["extract_longsent", "kg_build_graph"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _environment(state: str) -> None:
    """Keep the program and its Python workers on this checkout's sources
    and every temporary file inside the checkout."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # takes precedence over spark.local.dir when set in the environment
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")


def run(args) -> tuple[dict, dict]:
    """-> (result object, host stamps)."""
    from perfbench import gen, harness, host
    from perfbench.workloads import WORKLOADS

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work", str(os.getpid()))
    t_start = time.perf_counter()
    phases = {}

    def phase(name: str) -> None:
        phases[name] = time.perf_counter() - t_start - sum(phases.values())

    input_dir = gen.materialize(args.workload, args.seed, 1.0, os.path.join(state, "cache"))
    workload = WORKLOADS[args.workload](input_dir, work, args.seed)
    workload.prepare()
    phase("inputs_and_oracles")
    n = host.nproc()
    with open(os.path.join(input_dir, "_inputs.json")) as f:
        inputs = json.load(f)
    stamps = {"workload": args.workload, "seed": args.seed, "inputs": inputs, "nproc": n,
              "canary_mops": host.canary_mops(n)}
    phase("canary")
    steal0 = host.read_steal()
    passes, metrics = [], {}
    with host.WorkerRssSampler() as rss:
        setup = harness.start_session(n, work)
        spark = setup.spark
        stamps["workers_native_kernel"] = setup.native
        phase("setup")
        try:
            # one untimed pass fills caches and lets the JIT settle; it is
            # gated like every other pass
            passes.append(workload.run(spark))
            phase("warmup")
            if args.trace:
                groups = harness.Groups(spark, "perfbench")
                metrics = workload.trace(spark, groups)
                refs = []
                for _ in range(workload.trace_repeats):
                    _, ref, g = groups.run("untraced", lambda: workload.run(spark))
                    refs.append(ref)
                passes += refs
                untraced = statistics.median(r.wall_s for r in refs)
                st = groups.stats(g)
                metrics.update({
                    "session.jvm_s": setup.jvm_s,
                    "session.worker_warm_s": setup.worker_warm_s,
                    "spark.stages": st["stages"], "spark.tasks": st["tasks"],
                    "spark.failed_tasks": st["failed_tasks"],
                    "spark.shuffle_write_mb": st["shuffle_write_bytes"] / 2**20,
                    "trace.untraced_wall_s": untraced,
                    "trace.overhead_s": metrics["trace.layer_sum_s"] - untraced,
                })
            else:
                deadline = time.perf_counter() + args.seconds
                while True:
                    passes.append(workload.run(spark))
                    if time.perf_counter() >= deadline:
                        break
        except Exception:  # a failed pass is counted and reported, not raised
            traceback.print_exc()
            passes.append(None)
        finally:
            phase("measure")
            harness.stop_session(spark)
            phase("teardown")
    shutil.rmtree(work, ignore_errors=True)
    stamps["steal_pct"] = host.steal_pct(steal0, host.read_steal())
    stamps["phases_s"] = phases

    done = [p for p in passes if p is not None]
    measured = done[1:]  # the warm-up pass is checked, never timed
    attempted = sum(p.attempted for p in done) + len(passes) - len(done)
    failed = sum(p.failed for p in done) + len(passes) - len(done)
    problems = [x for p in done for x in p.problems]
    digest_problems = _check_digests(input_dir, args.workload, done)
    problems += digest_problems
    failed += bool(digest_problems)
    stamps["problems"] = problems[:20]
    stamps["passes_s"] = [p.parts or p.wall_s for p in measured]
    if args.trace:
        values = {k: float(metrics.get(k, 0.0)) for k in PER_LAYER}
        units = PER_LAYER
    else:
        values = {
            "setup_s": setup.total_s,
            "wall_s": statistics.median(p.wall_s for p in measured) if measured else 0.0,
            "triples_per_s": (statistics.median(p.triples / p.wall_s for p in measured)
                              if measured else 0.0),
            "py_worker_peak_rss_mb": rss.peak_mb,
        }
        units = END_TO_END
    result = {
        "correct": not problems and failed == 0 and bool(measured),
        "attempted": max(attempted, 1),
        "failed": failed if measured else max(attempted, 1),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    return result, stamps


def _check_digests(input_dir: str, workload: str, passes) -> list[str]:
    """Every pass of one seed, in this run and in earlier runs of the same
    checkout, must produce the same output digest."""
    digests = {p.digest for p in passes}
    if len(digests) > 1:
        return [f"{len(digests)} different output digests within one run"]
    if not digests:
        return []
    path = os.path.join(input_dir, "_digest.json")
    (digest,) = digests
    if os.path.exists(path):
        with open(path) as f:
            first = json.load(f)["digest"]
        return [] if first == digest else [f"output digest {digest} differs from earlier run's {first}"]
    with open(path, "w") as f:
        json.dump({"workload": workload, "digest": digest}, f)
    return []


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "deepex_spark")):
        print(f"deepex_spark sources not found under {ROOT}", file=sys.stderr)
        return 2
    _environment(os.path.join(ROOT, ".perfbench"))
    result, stamps = run(args)
    print(json.dumps({"host": stamps}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
