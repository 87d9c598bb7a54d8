"""One benchmark workload, run in its own process by perfbench/run.py.

Generates the seeded inputs, starts a Spark session at local[N] and
sets up; then ocr_scan_mix runs whole timed passes in a closed loop with
one client until ``--seconds`` have passed, and ocr_job_pecha_g4 times
one cold stopped-run-and-resume pair. Outputs are checked against
goldens built from the rendered text. With ``--spans`` it also measures
the per-layer numbers. It writes its result as JSON to ``--result``.

Only public functions of the package are called: pipeline.{media_spans,
recognize_pages, reassemble_spans, extract_spans},
checkpoint.run_resumable (and bucket_of, to pick the stopped run's
buckets), io.read_table, page.process_page and session.get_spark.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pickle
import shutil
import statistics
import sys
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import corpus
from tracing import Tracer, engine_metrics, kernel_input_rows

N_BUCKETS = 1024  # jobs/run_extract.py default
JOB_ID = "perfbench"
KERNEL_SAMPLE = 200
KERNEL_MIN = 20  # pages the sample keeps when it runs short of time
KERNEL_MORE_VOLUMES = 14  # beside ocr_job_pecha_g4's 120 pages: 202 in all

_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                   ("media_ref", pa.string()), ("offset", pa.int32())])


def write_inputs(b, work: Path) -> tuple[str, str]:
    """The corpus as the two parquet tables a workload reads."""
    work.mkdir(parents=True, exist_ok=True)
    docs = pa.table({
        "doc_id": [d["doc_id"] for d in b.documents],
        "spans": pa.array([d["spans"] for d in b.documents], pa.list_(_SPAN)),
    })
    pages = pa.table({
        "media_ref": [p["media_ref"] for p in b.pages],
        "content": pa.array([p["content"] for p in b.pages], pa.binary()),
        "width": pa.array([p["width"] for p in b.pages], pa.int32()),
        "height": pa.array([p["height"] for p in b.pages], pa.int32()),
    })
    pq.write_table(docs, work / "documents.parquet")
    pq.write_table(pages, work / "pages.parquet")
    return str(work / "documents.parquet"), str(work / "pages.parquet")


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    return sum(vals), vals[7]


def sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def spans_of(rows) -> dict[str, list[tuple]]:
    return {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                          for s in r["spans"]] for r in rows}


def _pages(spans: list[tuple]) -> list | None:
    """A span list as items: ("text", text) for a document text span,
    ("page", media_ref, [line texts]) for a media span and the OCR lines
    that follow it; None if an OCR line names another page than the
    media span it follows."""
    items: list = []
    for kind, text, ref, *_ in spans:
        if kind == "media":
            items.append(("page", ref, []))
        elif ref is None:
            items.append(("text", text))
        elif items and items[-1][0] == "page" and items[-1][1] == ref:
            items[-1][2].append(text)
        else:
            return None
    return items


def classify(got: list[tuple] | None, golden: list[tuple]) -> str:
    """One document's output against its golden: 'ok'; 'empty_line'
    (the named fault: the only difference is extra empty OCR lines);
    'misread' (text spans, media spans, their order and offsets are
    right and each OCR line follows its own page, but some page's lines
    differ from the rendered text); or 'wrong' (anything else)."""
    want = corpus.golden_spans(golden)
    if got == want:
        return "ok"
    if got is None or [s[3] for s in got] != list(range(len(got))):
        return "wrong"
    g, w = _pages(got), _pages(want)
    if g is None or len(g) != len(w):
        return "wrong"
    empty_only = True
    for a, b in zip(g, w):
        if a[:2] != b[:2]:
            return "wrong"
        if a[0] == "page" and a[2] != b[2]:
            empty_only = empty_only and [t for t in a[2] if t != ""] == b[2]
    return "empty_line" if empty_only else "misread"


FAILED = ("empty_line", "misread")


def check_docs(rows, golden: dict[str, list[tuple]]) -> dict[str, int]:
    """Documents of one output by verdict; a missing, extra or
    duplicated document is wrong."""
    out = spans_of(rows)
    counts = dict.fromkeys(("ok", "empty_line", "misread", "wrong"), 0)
    for d, g in golden.items():
        counts[classify(out.get(d), g)] += 1
    counts["wrong"] += len(rows) - len(out) + len(set(out) - set(golden))
    return counts


def self_check(golden: dict[str, list[tuple]]) -> bool:
    """A golden with a corrupted text span must be reported wrong, and
    one with a corrupted OCR line misread."""
    for g in golden.values():
        text = next((i for i, s in enumerate(g) if s[0] == "text" and s[2] is None), None)
        line = next((i for i, s in enumerate(g) if s[0] == "text" and s[2] is not None), None)
        if text is not None and line is not None:
            break
    got = corpus.golden_spans(g)

    def corrupted(i):
        bad = list(g)
        bad[i] = ("text", g[i][1] + "x", g[i][2])
        return bad

    return (classify(got, g) == "ok" and classify(got, corrupted(text)) == "wrong"
            and classify(got, corrupted(line)) == "misread")


class Workload:
    def __init__(self, args, tracer: Tracer) -> None:
        self.args = args
        self.tr = tracer
        self.cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
        self.work = Path(args.work_dir)
        # the kernel sample, the last layer a traced run measures, stops
        # early rather than run the invocation into its deadline
        self.end = math.inf if args.end_in is None else time.monotonic() + args.end_in
        self.res: dict = {"pass_s": [], "attempted": 0, "verdicts": {}, "layers": {}}

    # --- shared ---------------------------------------------------------
    def corpus(self, make) -> corpus.Corpus:
        """The seeded corpus, generated once per invocation: a traced
        invocation's untraced and traced runs share it."""
        path = Path(self.args.corpus)
        if path.exists():
            return pickle.loads(path.read_bytes())
        b = make(self.args.seed)
        path.write_bytes(pickle.dumps(b))
        return b

    def start(self) -> None:
        from ocr_inference_spark.session import get_spark

        t = time.perf_counter()
        with self.tr.span("session.start"):
            self.spark = get_spark(app_name=f"perfbench_{self.args.workload}",
                                   master=f"local[{self.cores}]")
        self.res["layers"]["session.start_s"] = time.perf_counter() - t
        self.tr.sc = self.spark.sparkContext

    def timed(self, one_pass, seconds: float) -> None:
        """Whole passes until ``seconds`` have passed (at least one)."""
        t_end = time.perf_counter() + seconds
        s0 = cpu_ticks()
        while True:
            with self.tr.span("pass"):
                self.res["pass_s"].append(one_pass())
            if time.perf_counter() >= t_end:
                break
        s1 = cpu_ticks()
        self.res["steal_pct"] = 100.0 * (s1[1] - s0[1]) / max(s1[0] - s0[0], 1)

    def check(self, rows, golden) -> None:
        """Add one checked output's documents to the verdict counts."""
        self.res["attempted"] += len(golden)
        for k, v in check_docs(rows, golden).items():
            self.res["verdicts"][k] = self.res["verdicts"].get(k, 0) + v

    def kernel_layer(self, pages: list[dict]) -> None:
        """Single-process page kernel over a spread sample of pages; with
        too little time left it ends after KERNEL_MIN pages or more (the
        stamp's kernel.pages says how many)."""
        from ocr_inference_spark.kernels.deskew import ROTATE_THRESHOLD
        from ocr_inference_spark.model import get_session, serialize_weights
        from ocr_inference_spark.page import process_page

        step = max(1, len(pages) // KERNEL_SAMPLE)
        sample = pages[::step][:KERNEL_SAMPLE]
        session = get_session(serialize_weights())
        page_ms, stages, redetect, lines = [], {}, 0, 0
        with self.tr.span("kernel.sample"):
            for p in sample:
                if len(page_ms) >= KERNEL_MIN and time.monotonic() > self.end:
                    break
                t = time.perf_counter()
                r = process_page(p["content"], session)
                page_ms.append((time.perf_counter() - t) * 1e3)
                for k, v in r.stage_ms.items():
                    stages.setdefault(k, []).append(v)
                redetect += abs(r.angle) > ROTATE_THRESHOLD or r.dewarp_applied
                lines += r.n_lines
        lay = self.res["layers"]
        lay["kernel.pages"] = len(page_ms)
        lay["kernel.page_ms_mean"] = statistics.fmean(page_ms)
        for name, xs in [("page", page_ms)] + sorted(stages.items()):
            q = statistics.quantiles(xs, n=20)
            lay[f"kernel.{name}_ms_p50"] = statistics.median(xs)
            lay[f"kernel.{name}_ms_p95"] = q[18]
        lay["kernel.redetect_share"] = redetect / len(page_ms)
        lay["kernel.lines_per_page"] = lines / len(page_ms)
        lay["kernel.recognize_ms_per_line"] = sum(stages["recognize"]) / max(lines, 1)

    def pipeline_layers(self, docs, pages, strategy: str, n_pages: int) -> None:
        """Each public pipeline function alone: media spans into a noop
        sink, recognition into an eager local checkpoint (its rows are a
        few KB), and reassembly from that checkpoint into a noop sink."""
        from ocr_inference_spark.pipeline import media_spans, reassemble_spans, recognize_pages

        lay = self.res["layers"]

        def timed_layer(name, fn):
            with self.tr.span(f"pipeline.{name}"):
                t = time.perf_counter()
                out = fn()
                lay[f"pipeline.{name}_s"] = time.perf_counter() - t
            return out

        timed_layer("media_spans", lambda: sink(media_spans(docs)))
        ocr = timed_layer("recognize", lambda: recognize_pages(
            self.spark, docs, pages, strategy=strategy).localCheckpoint(eager=True))
        timed_layer("reassemble", lambda: sink(reassemble_spans(docs, ocr)))
        lay["pipeline.pages"] = n_pages

    # --- ocr_scan_mix -----------------------------------------------------
    def ocr_scan_mix(self) -> None:
        from ocr_inference_spark.io import read_table
        from ocr_inference_spark.pipeline import extract_spans

        b = self.corpus(corpus.scan_mix)
        docs_path, pages_path = write_inputs(b, self.work)
        t0 = time.perf_counter()
        self.start()
        with self.tr.span("load"):
            docs = read_table(self.spark, docs_path).cache()
            docs.count()
            # pages already partitioned and cached: bench.py's plan shape
            pages = read_table(self.spark, pages_path).repartition(
                self.cores * 4, "media_ref").cache()
            pages.count()

        def extract():
            return extract_spans(self.spark, docs, pages, strategy="broadcast")

        with self.tr.span("warmup"):
            t = time.perf_counter()
            rows = extract().collect()
            cold = time.perf_counter() - t
        self.res["setup_s"] = time.perf_counter() - t0
        # the checked pass: the timed passes run the same plan into a
        # noop sink, so attempted and failed count this pass's documents
        self.check(rows, b.golden)

        def one_pass():
            t = time.perf_counter()
            sink(extract())
            return time.perf_counter() - t

        self.timed(one_pass, self.args.seconds)
        self.res["pages_per_pass"] = len(b.pages)
        self.res["golden"] = b.golden
        self.res["layers"]["session.cold_pass_extra_s"] = cold - statistics.median(self.res["pass_s"])
        if self.tr.enabled:
            self.pipeline_layers(docs, pages, "broadcast", len(b.pages))
            # every traced run reports every layer: one stopped run and
            # resume for the checkpoint layer, over the documents of a
            # quarter of the buckets so that the traced run fits its time
            pair = self.resumable_job(b, docs, pages, "broadcast", N_BUCKETS // 4)
            with self.tr.span("checkpoint"):
                lay = self.res["layers"]
                lay["checkpoint.first_s"], lay["checkpoint.resume_s"] = pair(0)
            self.kernel_layer(b.pages)

    # --- ocr_job_pecha_g4 -------------------------------------------------
    def ocr_job_pecha_g4(self) -> None:
        from ocr_inference_spark.io import read_table

        b = self.corpus(corpus.pecha_g4)
        docs_path, pages_path = write_inputs(b, self.work / "input")
        t0 = time.perf_counter()
        self.start()
        with self.tr.span("load"):
            docs = read_table(self.spark, docs_path)
            pages = read_table(self.spark, pages_path)
            pair = self.resumable_job(b, docs, pages, "shuffle")
        # no warm-up: a job is a fresh session, so the timed pair pays the
        # cold worker start every real job run pays
        self.res["setup_s"] = time.perf_counter() - t0
        parts: list[tuple[float, float]] = []

        def one_pass():
            parts.append(pair(0))
            return sum(parts[-1])

        # exactly one cold pair, whatever --seconds is: a second pair
        # would be warm and would change what pass_s measures
        self.timed(one_pass, 0.0)
        self.res["pages_per_pass"] = len(b.pages)
        self.res["golden"] = b.golden
        lay = self.res["layers"]
        lay["checkpoint.first_s"], lay["checkpoint.resume_s"] = parts[0]
        if self.tr.enabled:
            # cold minus warm, over the stopped run alone (a whole warm pair
            # does not fit the traced run's time)
            with self.tr.span("warm_first"):
                lay["session.cold_pass_extra_s"] = parts[0][0] - pair(1, resume=False)[0]
            self.pipeline_layers(docs, pages, "shuffle", len(b.pages))
            # the job's pages and a few more volumes from the same
            # generator and seed, to reach the sample size
            self.kernel_layer(
                b.pages + corpus.pecha_g4_more(self.args.seed, KERNEL_MORE_VOLUMES).pages)

    def resumable_job(self, b, docs, pages, strategy: str, limit: int = N_BUCKETS):
        """``pair(k)``: with one job id and a fresh job directory, the
        stopped run (the documents of the buckets below ``limit // 2``,
        chosen with ``checkpoint.bucket_of``), then the resume over the
        documents of the buckets below ``limit``; checks both and returns
        (first_s, resume_s). With ``resume=False`` only the stopped run,
        unchecked."""
        from pyspark.sql import functions as F

        from ocr_inference_spark.checkpoint import bucket_of, run_resumable

        spark = self.spark
        bucket = dict(docs.select("doc_id", bucket_of(F.col("doc_id"), N_BUCKETS)).collect())
        need: dict[int, int] = {}  # bucket -> pages of its documents
        for d in b.documents:
            k = bucket[d["doc_id"]]
            if k < limit:
                need[k] = need.get(k, 0) + sum(s["kind"] == "media" for s in d["spans"])
        golden = {d: g for d, g in b.golden.items() if bucket[d] < limit}
        stopped = docs.where(bucket_of(F.col("doc_id"), N_BUCKETS) < limit // 2)
        if limit < N_BUCKETS:
            docs = docs.where(bucket_of(F.col("doc_id"), N_BUCKETS) < limit)

        def final_rows(metrics_path: str) -> list:
            m = spark.read.parquet(metrics_path)
            return m.where((F.col("stage") == "ocr+reassemble") & (F.col("status") == "success")
                           ).select("bucket", "pages").collect()

        def pair(k: int, resume: bool = True) -> tuple[float, float]:
            job = self.work / f"job{k}"
            out, met = str(job / "output"), str(job / "metrics")
            with self.tr.span("checkpoint.first"):
                t = time.perf_counter()
                run_resumable(spark, stopped, pages, out, met, JOB_ID, n_buckets=N_BUCKETS,
                              strategy=strategy)
                first = time.perf_counter() - t
            if not resume:
                shutil.rmtree(job, ignore_errors=True)
                return first, 0.0
            done = final_rows(met)
            with self.tr.span("checkpoint.resume"):
                t = time.perf_counter()
                run_resumable(spark, docs, pages, out, met, JOB_ID, n_buckets=N_BUCKETS,
                              strategy=strategy)
                second = time.perf_counter() - t
            self.check_job(golden, out, done, final_rows(met), need, limit, job)
            shutil.rmtree(job, ignore_errors=True)
            return first, second

        return pair

    def check_job(self, golden, out, done, final, need, limit, job: Path) -> None:
        """Every document once and equal to its golden; one final
        metrics row per non-empty bucket; the stopped run recorded
        exactly the buckets below ``limit // 2`` and the resume exactly
        the others, each with the page count of its documents."""
        self.check(self.spark.read.parquet(out).select("doc_id", "spans").collect(), golden)
        done_pages = {r["bucket"]: r["pages"] for r in done}
        resumed = {r["bucket"]: r["pages"] for r in final if r["bucket"] not in done_pages}
        first = {k for k in need if k < limit // 2}
        bad = done_pages != {k: need[k] for k in first}
        bad += len(final) != len(need) or {r["bucket"] for r in final} != set(need)
        bad += resumed != {k: v for k, v in need.items() if k not in first}
        self.res["verdicts"]["wrong"] += bad
        lay = self.res["layers"]
        lay["checkpoint.resume_needed_pages"] = sum(
            v for k, v in need.items() if k not in first)
        lay["checkpoint.write_mb"] = sum(
            p.stat().st_size for p in job.rglob("*") if p.is_file()) / 2**20


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--event-log")
    ap.add_argument("--spans")
    ap.add_argument("--end-in", type=float, help="seconds the traced run may take")
    args = ap.parse_args()

    tracer = Tracer(args.workload, enabled=args.spans is not None)
    w = Workload(args, tracer)
    try:
        getattr(w, args.workload)()
    finally:
        if getattr(w, "spark", None) is not None:
            w.spark.stop()
    res = w.res
    golden = res.pop("golden")
    v = res.pop("verdicts")
    res["failed"] = sum(v[k] for k in FAILED)
    res["failed_by_kind"] = {k: v[k] for k in FAILED}
    res["correct"] = v["wrong"] == 0 and self_check(golden)
    if tracer.enabled:
        lay = res["layers"]
        lay.update(engine_metrics(
            Path(args.event_log), tracer.subtree("pass"), len(res["pass_s"])))
        # pages that entered the OCR kernel during the resume, as Spark
        # counted them: independent of the job's own metrics table
        lay["checkpoint.resume_ocr_pages"] = kernel_input_rows(
            Path(args.event_log), tracer.subtree("checkpoint.resume"))
        tracer.write(Path(args.spans), {"seed": args.seed, "seconds": args.seconds,
                                        "cores": w.cores, "steal_pct": res["steal_pct"]})
    # written whole or not at all: run.py takes a result file as the end
    tmp = Path(args.result + ".tmp")
    tmp.write_text(json.dumps(res))
    os.replace(tmp, args.result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
