"""perfbench: the CDC engine benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload mor_microbatch --seed 1 --seconds 20 --trace 0

One fresh process, one fresh engine session at ``local[nproc]``. The
workload's inputs come from ``--seed``; ``--seconds`` sizes the timed drain
(see ``cdc.shape_for``). Outputs are checked against an independent model
outside the timed phase. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics, whose full
report (units, bases, spans, blocking-path check) is also written to
``.perfbench/layers/<workload>-seed<seed>.json``. See perfbench/README.md.
"""

import time

T_PROC0 = time.perf_counter()  # set-up time is counted from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("mor_microbatch", "cow_bulk")
# environment knobs that would change the program being measured
KNOB_PREFIXES = ("ICELET_",)
KNOBS = ("SPARK_GRAFT_SESSION_WARM", "SPARK_GRAFT_WARM_ROWS", "SPARK_DRIVER_MEMORY")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    knobs = sorted(k for k in os.environ
                   if k.startswith(KNOB_PREFIXES) or k in KNOBS)
    if knobs:
        print(f"perfbench: engine knobs set in the environment: {knobs}; "
              "unset them so the default program is measured", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import game_library_enrichment_etl_spark  # noqa: F401
        from bench import _probe_alu_mops
    except ImportError as e:
        print(f"perfbench: engine sources not found under {ROOT}: {e}", file=sys.stderr)
        return 2
    # The engine's session warm-up replays operator plan shapes for ~50-65 s
    # on a 4-core host, more than a timed run's whole set-up may take; each
    # workload warms what it runs instead, and the traced run times the
    # default warm-up once as session.warm_s (README.md, "Set-up").
    os.environ["SPARK_GRAFT_SESSION_WARM"] = "0"
    # the Python workers Spark forks import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    from perfbench.cdc import CdcRun
    from perfbench.layers import PER_LAYER

    t = time.perf_counter()
    alu = _probe_alu_mops(1.0)
    t_start = T_PROC0 + (time.perf_counter() - t)  # the probe is not set-up
    work = os.path.join(ROOT, ".perfbench", "work", str(os.getpid()))
    os.makedirs(work)
    run = CdcRun(args.workload, args.seed, args.seconds, bool(args.trace), ROOT, work,
                 t_start)
    run.layer("host.alu_mops", alu, "Mops", "pinned-core probe before set-up")
    try:
        metrics, report = run.run()
    finally:
        if run.sess is not None:
            run.sess.stop()
        shutil.rmtree(work, ignore_errors=True)
    stamps = dict(run.stamps, alu_mops=alu, workload=args.workload, trace=args.trace)
    print("perfbench stamps " + json.dumps(stamps))
    if args.trace:
        report["stamps"] = stamps
        out_dir = os.path.join(ROOT, ".perfbench", "layers")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(report, fh, indent=1, default=str)
        print(f"perfbench per-layer report: {path}")
        bp = report["blocking_path"]
        print(f"perfbench blocking path: median over batch pairs of the layer spans' "
              f"self-time sum to the untraced batch wall {bp['median_ratio']:.3f} "
              f"(tolerance {bp['tolerance']}, within: {bp['within_tolerance']}); "
              f"unattributed {sum(bp['unattributed_per_batch_s']):.3f} s")
        values = {k: (report["layers"][k]["value"], u) for k, u in PER_LAYER.items()}
    else:
        values = metrics
    print(json.dumps({
        "correct": run.wrong == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
