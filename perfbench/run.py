"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload ocr_scan_mix --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The workload itself runs in a child
process (perfbench/workload.py) started in its own session, so it and
everything it starts (the Spark JVM, the PySpark daemon and its Python
workers) can be found, measured and stopped:

- the child's TMPDIR, SPARK_LOCAL_DIRS and SPARK_CONF_DIR point into a
  scratch directory under ``.perfbench/`` that is removed at the end;
- SPARK_GRAFT_CPUS is the machine's core count and SPARK_DRIVER_MEM 1g,
  both printed in the run stamp;
- the memory (PSS) of the whole process tree is sampled every 0.2 s;
- the run returns only when no process of the session is left, killing
  what remains after a grace period, also on failure or timeout.

Spark's logs go to ``.perfbench/<workload>.log``. Standard output holds
the report: a stamp line, one line per metric, and as its last line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 1`` runs the workload untraced and then again with spans and
Spark's event log on, both in the same invocation and both timing a
single pass, and reports the per-layer metrics plus the tracing overhead
(traced minus untraced pass time). Spans are written to
``.perfbench/spans-<workload>.json``.

Standard error gets the wall time of each child and, when a run fails,
the tail of the log.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("ocr_scan_mix", "ocr_job_pecha_g4")
DEADLINE_S = 175.0  # whole invocation, both children of a traced run
GRACE_S = 10.0  # for the JVM to exit on its own once the child is gone
WRAP_UP_S = 20.0  # a traced child's time from its kernel sample to its exit
SAMPLE_S = 0.2
DRIVER_MEM = "1g"
# base numbers of per-layer ratios, printed in the stamp line
BASE_COUNTS = ("kernel.pages", "pipeline.pages", "checkpoint.resume_needed_pages",
               "checkpoint.resume_ocr_pages")
LOG_TAIL = 40  # lines of the log printed to stderr when a run fails


def _stat(pid: str) -> tuple[int, str] | None:
    """(session id, state) of a process, None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None
    return int(fields[3]), fields[0]


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st and st[0] == sid and st[1] != "Z":
                out.append(int(pid))
    return out


def _pss_mb(pid: int) -> tuple[str, float]:
    """(command name, proportional set size in MB) of a process. PSS
    splits pages shared between the forked Python workers among them,
    so the sum over a tree counts each page once."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return comm, int(line.split()[1]) / 1024
    except (FileNotFoundError, ProcessLookupError, PermissionError, ValueError):
        pass
    return "", 0.0


class MemoryPeaks:
    """Peak memory (PSS) of a session: in total, of the JVM, and of the
    Python workers (every Python process but the driver)."""

    def __init__(self, driver_pid: int) -> None:
        self.driver_pid = driver_pid
        self.total = self.jvm = self.workers = 0.0

    def sample(self, pids: list[int]) -> None:
        total = jvm = workers = 0.0
        for pid in pids:
            comm, mb = _pss_mb(pid)
            total += mb
            if comm == "java":
                jvm += mb
            elif pid != self.driver_pid and comm.startswith("python"):
                workers += mb
        self.total = max(self.total, total)
        self.jvm = max(self.jvm, jvm)
        self.workers = max(self.workers, workers)


def stop_session(sid: int, grace: float) -> None:
    """Wait up to ``grace`` s for session ``sid`` to empty, then TERM and
    KILL what is left; return only once it is empty."""
    end = time.monotonic() + grace
    while session_pids(sid) and time.monotonic() < end:
        time.sleep(0.1)
    for sig, wait in ((signal.SIGTERM, 3.0), (signal.SIGKILL, 30.0)):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait
        while session_pids(sid) and time.monotonic() < end:
            time.sleep(0.1)
    if session_pids(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def machine() -> tuple[int, str]:
    """(cores, driver memory): nproc, and Spark's default 1g, which holds
    these corpora; a larger heap grows by a different amount from run to
    run and makes the memory figure unsteady."""
    return len(os.sched_getaffinity(0)), DRIVER_MEM


def commit(root: Path) -> str | None:
    try:
        return subprocess.run(
            ["git", "rev-parse", "--short=12", "HEAD"], cwd=root, capture_output=True,
            text=True, check=True, timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None  # the checkout a run measures need not be a git tree


def source_digest(root: Path) -> str:
    """Digest of the package and benchmark sources: names what was
    measured also in a checkout that is not a git tree, or is edited."""
    h = hashlib.sha256()
    for p in sorted([*(root / "ocr_inference_spark").rglob("*.py"),
                     *(root / "perfbench").glob("*.py")]):
        h.update(p.relative_to(root).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def run_child(root: Path, scratch: Path, args, traced: bool, deadline: float,
              log) -> dict:
    """Run one workload child in its own session; return its result."""
    cores, driver_mem = machine()
    conf = scratch / "conf"
    conf.mkdir(parents=True, exist_ok=True)
    lines = [
        "spark.ui.showConsoleProgress false",
        # the JVM's own temporary files (native libraries, spark-* and
        # artifacts-* directories) into the scratch directory; no
        # /tmp/hsperfdata_* file
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={scratch} -XX:-UsePerfData",
    ]
    if traced:
        (scratch / "eventlog").mkdir(exist_ok=True)
        lines += ["spark.eventLog.enabled true", "spark.eventLog.rolling.enabled false",
                  "spark.eventLog.compress false",
                  f"spark.eventLog.dir file://{scratch / 'eventlog'}"]
    (conf / "spark-defaults.conf").write_text("\n".join(lines) + "\n")
    (scratch / "spark-local").mkdir(exist_ok=True)
    env = dict(
        os.environ,
        TMPDIR=str(scratch),
        SPARK_LOCAL_DIRS=str(scratch / "spark-local"),
        SPARK_CONF_DIR=str(conf),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM=driver_mem,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=str(root),
    )
    # local mode needs no name service: bind the driver to the loopback
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    result_path = scratch / ("traced.json" if traced else "untraced.json")
    # both runs of a traced invocation time a single pass: like for like,
    # and the two fit the deadline
    seconds = 0 if args.trace else args.seconds
    cmd = [
        sys.executable, str(root / "perfbench" / "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(seconds), "--result", str(result_path),
        "--work-dir", str(scratch / "work"), "--corpus", str(scratch.parent / "corpus.pkl"),
    ]
    if traced:
        cmd += ["--event-log", str(scratch / "eventlog"),
                "--spans", str(root / ".perfbench" / f"spans-{args.workload}.json"),
                "--end-in", f"{deadline - time.monotonic() - WRAP_UP_S:.1f}"]
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log, stderr=log,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    sid = proc.pid  # a new session's id is its leader's pid
    mem = MemoryPeaks(proc.pid)
    t0 = time.monotonic()
    written = None  # when the child's result appeared
    try:
        while proc.poll() is None:
            now = time.monotonic()
            if now > deadline:
                raise TimeoutError(f"{args.workload} passed the {DEADLINE_S:.0f} s deadline")
            if written is None and result_path.exists():
                written = now
            elif written is not None and now - written > GRACE_S:
                # the child writes its result last, after stopping Spark: one
                # that has not exited by now hangs on its way out
                print("perfbench: the workload child did not exit after writing "
                      "its result; stopping it", file=sys.stderr)
                break
            mem.sample(session_pids(sid))
            time.sleep(SAMPLE_S)
    finally:
        stop_session(sid, GRACE_S if proc.poll() is not None else 0.0)
        proc.wait()
        print(f"perfbench: {'traced' if traced else 'untraced'} run "
              f"{time.monotonic() - t0:.1f} s", file=sys.stderr)
    if not result_path.exists():
        raise RuntimeError(f"workload child exited with {proc.returncode} and no result")
    res = json.loads(result_path.read_text())
    res["mem"] = {"total": mem.total, "jvm": mem.jvm, "workers": mem.workers}
    res["cores"], res["driver_mem"] = cores, driver_mem
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "ocr_inference_spark" / "pipeline.py").is_file():
        print("perfbench: run from the root of a checkout of the repository",
              file=sys.stderr)
        return 2
    # a TERM from outside unwinds through the finally clauses below, which
    # stop the workload's processes and remove the scratch directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    deadline = time.monotonic() + DEADLINE_S
    out_dir = root / ".perfbench"
    scratch = out_dir / f"run-{os.getpid()}"
    scratch.mkdir(parents=True, exist_ok=True)
    try:
        with open(out_dir / f"{args.workload}.log", "w") as log:
            res = run_child(root, scratch / "a", args, False, deadline, log)
            traced = None
            if args.trace:
                traced = run_child(root, scratch / "b", args, True, deadline, log)
    except (RuntimeError, TimeoutError, OSError, ValueError) as exc:
        log_path = out_dir / f"{args.workload}.log"
        with open(log_path, errors="replace") as f:
            sys.stderr.writelines(f.readlines()[-LOG_TAIL:])
        print(f"perfbench: {args.workload} failed: {exc} (log: {log_path})", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    from report import end_to_end, per_layer

    run = traced or res
    metrics = per_layer(res, traced) if traced else end_to_end(res)
    stamp = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "commit": commit(root), "sources": source_digest(root),
        "cores": run["cores"], "driver_mem": run["driver_mem"],
        "steal_pct": round(run["steal_pct"], 2), "timed_passes": len(run["pass_s"]),
        "pages_per_pass": run["pages_per_pass"],
        "checked_docs": res["attempted"], "failed_by_kind": res["failed_by_kind"],
        "pass_s": [round(t, 3) for t in run["pass_s"]],
        "peak_mb": {k: round(v) for k, v in run["mem"].items()},
    }
    if traced:
        stamp.update({k: v for k, v in traced["layers"].items() if k in BASE_COUNTS})
    print(json.dumps(stamp))
    for name, m in metrics.items():
        print(f"{name:36s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({
        "correct": res["correct"] and (traced is None or traced["correct"]),
        # the untraced run's checked documents, so that the failed share
        # is the same in traced and untraced runs
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
