"""Service benchmark launcher.

    python3 perfbench/run.py --workload search_tiers --seed 1 --seconds 14 --trace 0

Runs one workload (see ``perfbench/workloads.py`` and ``BENCHMARK.json``)
in a worker process and prints the worker's JSON result as the last line
of standard output. Run it from the repository root; it reads and writes
only inside the repository. Each run gets its own directory under
``.perfbench_runs/`` for the generated inputs, the warehouse, ``TMPDIR``,
``SPARK_LOCAL_DIRS`` and the JVM's temp dir (the service writes its ANN
index artifacts under ``tempfile.gettempdir()``); the directory is deleted
when the run ends. Traced runs also write their spans to
``.perfbench_out/`` and count the ERROR lines the run logged.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "pdf_parse_vector_db_spark" / "api.py"
#: the worker is stopped after this long; a run must end within 180 s
WORKER_TIMEOUT_S = 170


def _env(run_dir: Path) -> dict[str, str]:
    tmp = run_dir / "tmp"
    (tmp / "spark").mkdir(parents=True)
    env = dict(os.environ)
    # Python UDF workers import the package; without the repository root on
    # their path they fail with ModuleNotFoundError
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    env["TMPDIR"] = str(tmp)
    env["SPARK_LOCAL_DIRS"] = str(tmp / "spark")
    # Spark task slots: half the cores, so the tasks, the JVM's compiler and
    # GC threads and the Python driver are not more threads than cores
    env["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    env.setdefault("SPARK_DRIVER_MEMORY", "2g")
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])
    return env


def _declared_units(trace: int) -> dict[str, str]:
    """Unit of each metric BENCHMARK.json declares for this kind of run."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _stop_group(pgid: int) -> None:
    """Kill what is left of the worker's process group (the JVM and its
    Python workers) and wait until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated launcher still stops its worker and removes the run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not PACKAGE.is_file():
        print(f"package not found at {PACKAGE.parent}; run from a full checkout",
              file=sys.stderr)
        return 2

    (ROOT / ".perfbench_runs").mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=ROOT / ".perfbench_runs"))
    log_path = run_dir / "worker.log"
    cmd = [
        sys.executable, "-m", "perfbench.workloads",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data-dir", str(run_dir),
    ]
    if args.trace:
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        cmd += ["--spans-out", str(out_dir / f"spans-{args.workload}-seed{args.seed}.jsonl")]
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                cmd, cwd=run_dir, env=_env(run_dir), stdout=subprocess.PIPE,
                stderr=log, text=True, start_new_session=True,
            )
            try:
                out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                _stop_group(proc.pid)
                out, _ = proc.communicate()
                print(f"worker timed out after {WORKER_TIMEOUT_S}s", file=sys.stderr)
            finally:
                _stop_group(proc.pid)
        log_text = log_path.read_text(errors="replace")
        lines = out.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(log_text[-4000:])
            return proc.returncode or 1
        result = json.loads(lines[-1])
        for line in log_text.splitlines():
            if line.startswith("samples:"):
                print(line, file=sys.stderr)
        values = result["metrics"]
        if args.trace:
            values["log.error_lines"] = sum(
                1 for line in log_text.splitlines() if " ERROR " in line
            )
        units = _declared_units(args.trace)
        if set(values) != set(units):
            print(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}",
                  file=sys.stderr)
            return 1
        result["metrics"] = {k: {"value": values[k], "unit": units[k]} for k in units}
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
