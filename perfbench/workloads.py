"""The three workloads: inputs made from the seed, one pass, and the
output checks.

* pdf_backfill -- synthetic PDFs from ``synth.make_pdf_bytes`` over a
  seed-offset doc-index range; a pass is scan -> ``defuse_skew`` ->
  ``run_fused(PIPE_CFG)`` -> noop sink.
* crawl_resume -- mostly HTML pages plus PDFs with a heavy-tailed page
  count; a pass is ``run_with_checkpoint`` into a parquet dir with a
  crash injected part-way, then the same call resuming to completion.
* webtext_ops -- contract queries from ``__spark_entry__.queries()``
  over a seeded row permutation of the documents table, each forced
  with the noop sink in sequence.

How the seed maps to inputs:
* pdf_backfill: doc indices ``[1 + (seed % 100000) * n, ... + n)``. The
  generator's mix is periodic in the index, so every window keeps the
  corpus proportions.
* crawl_resume: ``random.Random(seed)`` draws which docs are PDFs, which
  PDF gets which page count and stream encoding, the PDF words, and the
  HTML index offset ``seed * n``. The page counts are the quantiles of a
  Pareto(alpha=1.2) tail, the same multiset for every seed, so seeds
  move where the whales land (and which bucket the crash leaves to
  redo), not the total work.
* webtext_ops: ``random.Random(seed)`` permutes the rows of
  ``perfbench/data/documents.parquet`` (the sf0.1 documents table),
  kept as one file with one row group. Query outputs do not depend on
  row order, so the expected digests hold for every seed.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import random
import time
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median
from typing import Callable, Dict, List, Optional, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from common import DATA, digest, reset_dir

PAGES_SCHEMA = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                          ("html", pa.binary()), ("text", pa.string()),
                          ("lang", pa.string())])

# every query webtext_ops runs, in order, with the operator module that
# implements it: one query per module named as a layer. The unigram +
# bigram explode over the spread documents scan (bm25_topk), the
# token-code counts behind the perplexity buckets (lm_ppl_buckets), the
# postings-pair size gate (dedup_jaccard), the persisted LSH candidates
# plus the union-find gate (dedup_components), and an aggregate behind a
# spread scan (regdomain_stats). The other queries named for this
# workload repeat these mechanisms in the same modules; with them a run
# could not repeat the list often enough to report a steady median in
# its time budget.
WEBTEXT_QUERIES: Dict[str, str] = {
    "bm25_topk": "index",
    "lm_ppl_buckets": "analysis",
    "dedup_jaccard": "dedup",
    "dedup_components": "components",
    "regdomain_stats": "urls",
}
SMOKE_QUERIES = ("bm25_topk", "regdomain_stats")
EXPECTED_DIGESTS = Path(__file__).resolve().parent / "expected_digests.json"

# Action runner: act(label, fn) -> (result, ActionMetrics | None)
Act = Callable[[str, Callable], Tuple[object, object]]


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


@dataclass
class PassResult:
    wall_s: float
    parts: Dict[str, float] = field(default_factory=dict)
    metrics: list = field(default_factory=list)  # ActionMetrics per action
    checks: List[Check] = field(default_factory=list)
    peak_rss_mb: float = 0.0


def write_pages(rows: List[tuple], out: Path, files: int) -> float:
    """Write pages rows as `files` parquet files; returns payload MB."""
    reset_dir(out)
    per = max(1, math.ceil(len(rows) / files))
    for k in range(0, len(rows), per):
        chunk = rows[k:k + per]
        cols = list(zip(*chunk))
        pq.write_table(pa.Table.from_arrays(
            [pa.array(c, t.type) for c, t in zip(cols, PAGES_SCHEMA)],
            schema=PAGES_SCHEMA), out / f"part-{k // per:05d}.parquet")
    return sum(len(r[2]) for r in rows) / 1e6


def fused_digest(rows) -> str:
    """Digest of (url, label, text, error) rows."""
    return digest((r[0], r[1], r[2], bool(r[3])) for r in rows)


def expected_fused_digest(rows: List[tuple]) -> str:
    """The same digest from ``process_doc`` called directly, one doc at
    a time, outside Spark."""
    import __spark_entry__ as entry
    from edspdf_spark.operators.fused import process_doc

    out = []
    for r in rows:
        out.extend(process_doc(r[0], r[2], entry.PIPE_CFG))
    return fused_digest((o[0], o[1], o[2], o[4]) for o in out)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def fused(spark, path: Path, cores: int):
    """scan -> defuse_skew -> run_fused(PIPE_CFG), as bench.py plans it."""
    import __spark_entry__ as entry
    from edspdf_spark.operators import run_fused
    from edspdf_spark.plans import defuse_skew

    return run_fused(defuse_skew(spark.read.parquet(str(path)), cores * 2),
                     entry.PIPE_CFG)


class Workload:
    name = ""

    def __init__(self, seed: int, smoke: bool, work: Path, cores: int):
        self.seed, self.smoke, self.work, self.cores = seed, smoke, work, cores
        self.n_docs = 0
        self.input_mb = 0.0
        self.input_path: Path = work / "input"

    # --- hooks ---------------------------------------------------------
    def make_inputs(self) -> None:
        raise NotImplementedError

    def warmup(self, spark, act: Act) -> List[Check]:
        """First pass after session start; also collects what the
        output checks need, and sets ``warm_s`` to the pass's Spark time
        (output verification excluded). Returns the checks it ran."""
        raise NotImplementedError

    def run_pass(self, spark, act: Act, k: int) -> PassResult:
        raise NotImplementedError

    def final_checks(self) -> List[Check]:
        """Checks that run after the timed passes, outside Spark."""
        return []

    def wall_of(self, passes: List[PassResult]) -> float:
        """Seconds per pass of the run: the median pass."""
        return median([p.wall_s for p in passes])

    def kernel_sample(self) -> Tuple[List[tuple], List[tuple]]:
        """(pdf rows, html rows) for the in-driver kernel probe."""
        raise NotImplementedError

    def detail(self, spark, act: Act, traced: List[PassResult]) -> dict:
        """Workload-specific layer numbers for the traced report."""
        return {}


# ---------------------------------------------------------------------------
# run_with_checkpoint's layout, and the bucket after which the injected
# crash comes: the first group of 4 commits, the second crashes part-way
N_BUCKETS, BUCKETS_PER_JOB, CRASH_AFTER = 8, 4, 5


class Checkpointed(Workload):
    """A workload whose rows are pages the fused pipeline extracts, and
    which can run them through ``run_with_checkpoint`` with a crash
    injected part-way, then resume."""

    rows: List[tuple]
    _expected: Optional[str] = None

    def expected_digest(self) -> str:
        if self._expected is None:
            self._expected = expected_fused_digest(self.rows)
        return self._expected

    def crash_and_resume(self, spark, act: Act, out: Path) -> PassResult:
        import __spark_entry__ as entry
        from edspdf_spark.plans.checkpoint import run_with_checkpoint

        reset_dir(out)
        pages = spark.read.parquet(str(self.input_path))
        kw = dict(n_buckets=N_BUCKETS, buckets_per_job=BUCKETS_PER_JOB,
                  num_partitions=self.cores * 2)

        def crash():
            try:
                run_with_checkpoint(pages, entry.PIPE_CFG, str(out),
                                    fail_after_buckets=CRASH_AFTER, **kw)
            except RuntimeError as e:
                if not str(e).startswith("simulated crash"):
                    raise
                return None
            raise RuntimeError("the injected crash did not happen")

        w0, t0 = time.time(), time.perf_counter()
        _, m1 = act("crash_run", crash)
        w1, t1 = time.time(), time.perf_counter()
        committed = len(list((out / "_progress").glob("*.json")))
        rid, m2 = act("resume_run", lambda: run_with_checkpoint(
            pages, entry.PIPE_CFG, str(out), **kw))
        t2 = time.perf_counter()
        res = PassResult(t2 - t0, parts={"resume_s": t2 - t1,
                                         "crash_run_s": t1 - t0},
                         metrics=[m1, m2])
        res.checks = self._check_output(out, committed)
        self.last_out, self.last_resume_rid = out, rid
        self.last_wall = (w0, w1)
        return res

    def _check_output(self, out: Path, committed: int) -> List[Check]:
        import pyarrow.dataset as ds

        want = self.expected_digest()
        markers = sorted(int(p.stem) for p in (out / "_progress").glob("*.json"))
        t = ds.dataset(str(out / "data"), format="parquet",
                       partitioning="hive").to_table(
            columns=["url", "label", "text", "error"])
        rows = t.to_pylist()
        keys = [(r["url"], r["label"]) for r in rows]
        got = fused_digest((r["url"], r["label"], r["text"], r["error"])
                           for r in rows)
        urls = {r["url"] for r in rows}
        return [
            Check(f"{self.name}.crash_committed_some",
                  0 < committed < N_BUCKETS, f"{committed} markers at crash"),
            Check(f"{self.name}.all_markers", markers == list(range(N_BUCKETS)),
                  f"markers {markers}"),
            Check(f"{self.name}.url_label_once", len(keys) == len(set(keys)),
                  f"{len(keys)} rows, {len(set(keys))} distinct"),
            Check(f"{self.name}.all_docs", len(urls) == self.n_docs,
                  f"{len(urls)} of {self.n_docs} urls"),
            Check(f"{self.name}.fused_digest", got == want,
                  f"{got[:12]} vs process_doc {want[:12]}"),
        ]

    def checkpoint_layers(self) -> dict:
        """plans.checkpoint numbers from the last crash-and-resume
        pass's output dir."""
        import pyarrow.dataset as ds
        import pyarrow.compute as pc

        out, (w0, w1) = self.last_out, self.last_wall
        markers = [json.loads(p.read_text())
                   for p in (out / "_progress").glob("*.json")]
        commits = sorted(mk["committed_at"] for mk in markers)
        # buckets of one group commit back to back; groups are seconds apart
        group_ends = [c for i, c in enumerate(commits)
                      if i + 1 == len(commits) or commits[i + 1] - c > 0.1]
        group_s = []
        for start, ends in ((w0, [c for c in group_ends if c <= w1]),
                            (w1, [c for c in group_ends if c > w1])):
            for e in ends:
                group_s.append(e - start)
                start = e
        data = ds.dataset(str(out / "data"), format="parquet",
                          partitioning="hive").to_table(columns=["url",
                                                                  "bucket"])
        per_bucket: Dict[int, set] = {}
        for u, b in zip(data.column("url").to_pylist(),
                        data.column("bucket").to_pylist()):
            per_bucket.setdefault(int(b), set()).add(u)
        committed_before = {mk["bucket"] for mk in markers
                            if mk["run_id"] != self.last_resume_rid}
        uncommitted_docs = sum(len(v) for b, v in per_bucket.items()
                               if b not in committed_before)
        mt = ds.dataset(str(out / "metrics"), format="parquet").to_table()
        redo = pc.sum(mt.filter(pc.equal(mt.column("run_id"),
                                         self.last_resume_rid))
                      .column("docs")).as_py() or 0
        return {
            "plans.checkpoint.groups": len(group_ends),
            "plans.checkpoint.group_s": median(group_s) if group_s else 0.0,
            "plans.checkpoint.redo_docs_share": (redo / uncommitted_docs
                                                 if uncommitted_docs else 0.0),
        }


# ---------------------------------------------------------------------------
class PdfBackfill(Checkpointed):
    name = "pdf_backfill"
    probe_checks: List[Check] = []

    def make_inputs(self) -> None:
        from edspdf_spark import synth

        n = 60 if self.smoke else 2000
        start = 1 + (self.seed % 100000) * n
        t0 = _dt.datetime(2024, 1, 1)
        langs = ["en", "fr", "de"]
        self.rows = [(f"https://example.org/doc/{i:08d}.pdf",
                      t0 + _dt.timedelta(seconds=i), synth.make_pdf_bytes(i),
                      "", langs[i % 3]) for i in range(start, start + n)]
        self.n_docs = n
        self.input_mb = write_pages(self.rows, self.input_path, self.cores * 2)

    def _fused(self, spark, first_file: bool = False):
        path = self.input_path
        return fused(spark, path / "part-00000.parquet" if first_file
                     else path, self.cores)

    def warmup(self, spark, act: Act) -> List[Check]:
        t0 = time.perf_counter()
        table, _ = act("warmup", lambda: self._fused(spark).toArrow())
        self.warm_s = time.perf_counter() - t0
        self.output = table.select(["url", "label", "text", "error"]).to_pylist()
        return []

    def run_pass(self, spark, act: Act, k: int) -> PassResult:
        t0 = time.perf_counter()
        _, m = act("pass", lambda: noop(self._fused(spark)))
        return PassResult(time.perf_counter() - t0, metrics=[m])

    def final_checks(self) -> List[Check]:
        got = fused_digest((r["url"], r["label"], r["text"], r["error"])
                           for r in self.output)
        want = self.expected_digest()
        return [Check("pdf_backfill.fused_digest", got == want,
                      f"{got[:12]} vs process_doc {want[:12]}")
                ] + self.probe_checks

    def kernel_sample(self):
        rng = random.Random(self.seed)
        k = min(len(self.rows), 20 if self.smoke else 200)
        pdfs = rng.sample(self.rows, k)
        return pdfs, html_rows(self.seed, k)

    def detail(self, spark, act: Act, traced: List[PassResult]) -> dict:
        """The checkpoint layers probed with one crash-and-resume run
        over this input (its output checked like crawl_resume's), and
        the metrics rollup."""
        self.probe_checks = self.crash_and_resume(
            spark, act, self.work / "out").checks
        return {**self.checkpoint_layers(),
                "plans.metrics.rollup_s": rollup_s(spark, act,
                                                   self._fused(spark))}

    def single_core_pass(self, spark, first_file: bool = False) -> float:
        t0 = time.perf_counter()
        noop(self._fused(spark, first_file))
        return time.perf_counter() - t0


def html_rows(seed: int, k: int) -> List[tuple]:
    from edspdf_spark import synth

    base = (seed % 100000) * 10_000
    return [(f"https://crawl.example/h/{i}.html", None,
             synth.synth_html_bytes(i), "", "en")
            for i in range(base, base + k)]


def rollup_s(spark, act: Act, result) -> float:
    """Time metrics_from_fused over a persisted fused result."""
    from edspdf_spark.plans.metrics import metrics_from_fused

    result = result.persist()
    try:
        result.count()
        t0 = time.perf_counter()
        act("rollup", lambda: metrics_from_fused(result, "perfbench")
            .collect())
        return time.perf_counter() - t0
    finally:
        result.unpersist(blocking=True)


# ---------------------------------------------------------------------------
_WORDS = ("crawl warc page index fetch robots host domain link anchor title "
          "body para text token shard bucket resume commit marker parquet "
          "spark arrow batch layout extract").split()


def crawl_pdf(rng: random.Random, n_pages: int, compress: bool,
              objstm: bool) -> bytes:
    from edspdf_spark.kernels.pdf import PAGE_HEIGHT, PAGE_WIDTH, Line, build_pdf

    pages = []
    for p in range(n_pages):
        lines = [Line.simple(0.12 * PAGE_WIDTH, PAGE_HEIGHT * 0.95 - 10,
                             f"Report page {p + 1}")]
        for k in range(12):
            words = " ".join(rng.choice(_WORDS) for _ in range(7))
            lines.append(Line.simple(0.12 * PAGE_WIDTH,
                                     PAGE_HEIGHT * (0.82 - 0.055 * k), words))
        pages.append(lines)
    return build_pdf(pages, compress=compress, objstm=objstm)


def crawl_rows(seed: int, n_docs: int, pdf_share: float = 1 / 6,
               alpha: float = 1.2) -> List[tuple]:
    """Common-Crawl-shaped mix (see the module docstring). Every count
    that sets the amount of work -- PDFs, pages per PDF, FlateDecode
    (1/5) and ObjStm (1/9) PDFs, words per line -- is the same for
    every seed; the seed shuffles which doc gets what."""
    from edspdf_spark import synth

    rng = random.Random(seed)
    n_pdf = max(1, round(n_docs * pdf_share))
    # (pages, FlateDecode, ObjStm) per PDF, fixed by rank so that the
    # payload size does not depend on the seed
    pdfs = [(max(1, int(((j + 0.5) / n_pdf) ** (-1 / alpha))),
             j % 5 == 2, j % 9 == 4) for j in range(n_pdf)]
    rng.shuffle(pdfs)
    kinds = ["pdf"] * n_pdf + ["html"] * (n_docs - n_pdf)
    rng.shuffle(kinds)
    t0 = _dt.datetime(2024, 1, 1)
    rows = []
    for k, kind in enumerate(kinds):
        if kind == "pdf":
            payload = crawl_pdf(rng, *pdfs.pop())
        else:
            payload = synth.synth_html_bytes(seed * n_docs + k)
        rows.append((f"https://crawl.example/s{seed}/{k:06d}.{kind}",
                     t0 + _dt.timedelta(seconds=k), payload, "", "en"))
    return rows


class CrawlResume(Checkpointed):
    name = "crawl_resume"

    def make_inputs(self) -> None:
        n = 60 if self.smoke else 800
        self.rows = crawl_rows(self.seed, n)
        self.n_docs = n
        self.input_mb = write_pages(self.rows, self.input_path, self.cores * 2)

    def warmup(self, spark, act: Act) -> List[Check]:
        """The first crash-and-resume pass; its output is checked like
        every other pass's."""
        res = self.crash_and_resume(spark, act, self.work / "out")
        self.warm_s = res.wall_s
        return res.checks

    def run_pass(self, spark, act: Act, k: int) -> PassResult:
        return self.crash_and_resume(spark, act, self.work / "out")

    def kernel_sample(self):
        rng = random.Random(self.seed)
        pdfs = [r for r in self.rows if r[0].endswith(".pdf")]
        htmls = [r for r in self.rows if r[0].endswith(".html")]
        k = 20 if self.smoke else 200
        return (rng.sample(pdfs, min(k, len(pdfs))),
                rng.sample(htmls, min(k, len(htmls))))

    def detail(self, spark, act: Act, traced: List[PassResult]) -> dict:
        return {**self.checkpoint_layers(),
                "plans.metrics.rollup_s": rollup_s(
                    spark, act, fused(spark, self.input_path, self.cores))}


# ---------------------------------------------------------------------------
def frame_digest(pdf) -> str:
    """Order-insensitive digest of a pandas frame, normalised the way
    the repository's oracle test normalises (columns sorted by name,
    floats by exact repr, NULL/NaN as one token)."""
    cols = sorted(pdf.columns)
    rows = []
    for row in pdf[cols].itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float) and math.isnan(v):
                vals.append(["n", ""])
            elif isinstance(v, float):
                vals.append(["f", repr(v)])
            elif v is None:
                vals.append(["n", ""])
            else:
                vals.append(["v", str(v)])
        rows.append(vals)
    return digest([cols] + rows) if rows else digest([cols])


def webtext_input(seed: int, out_dir: Path) -> Tuple[int, float]:
    """Seeded row permutation of the documents table, one file with one
    row group, as ``<out_dir>/documents.parquet``."""
    t = pq.read_table(DATA / "documents.parquet")
    perm = list(range(t.num_rows))
    random.Random(seed).shuffle(perm)
    t = t.take(pa.array(perm))
    reset_dir(out_dir)
    pq.write_table(t, out_dir / "documents.parquet", row_group_size=t.num_rows)
    mb = sum(len(s.encode("utf-8")) for s in t.column("text").to_pylist()
             if s is not None) / 1e6
    return t.num_rows, mb


class WebtextOps(Workload):
    name = "webtext_ops"

    def make_inputs(self) -> None:
        self.queries = list(SMOKE_QUERIES if self.smoke else WEBTEXT_QUERIES)
        self.n_docs, self.input_mb = webtext_input(self.seed, self.input_path)
        self.input_path = self.input_path / "documents.parquet"

    def _query(self, spark, name):
        import __spark_entry__ as entry

        return entry.queries()[name](spark, str(self.input_path.parent))

    def warmup(self, spark, act: Act) -> List[Check]:
        expected = json.loads(EXPECTED_DIGESTS.read_text())
        checks, self.warm_s = [], 0.0
        for q in self.queries:
            t0 = time.perf_counter()
            pdf, _ = act(f"warmup:{q}", lambda q=q: self._query(spark, q)
                         .toPandas())
            self.warm_s += time.perf_counter() - t0
            got = frame_digest(pdf)
            checks.append(Check(f"webtext_ops.{q}.digest",
                                got == expected.get(q),
                                f"{got[:12]} vs recorded "
                                f"{str(expected.get(q))[:12]}"))
        return checks

    def run_pass(self, spark, act: Act, k: int) -> PassResult:
        res = PassResult(0.0)
        for q in self.queries:
            t0 = time.perf_counter()
            _, m = act(f"query:{q}", lambda q=q: noop(self._query(spark, q)))
            dt = time.perf_counter() - t0
            res.parts[q] = dt
            res.wall_s += dt
            res.metrics.append(m)
        return res

    def wall_of(self, passes: List[PassResult]) -> float:
        """Seconds for the whole query list: the sum over queries of
        each query's median over the passes (a pass runs the list
        once)."""
        return sum(median([p.parts[q] for p in passes])
                   for q in self.queries)

    def kernel_sample(self):
        # no PDF or HTML payloads here: the kernels are probed on the
        # pdf_backfill generator's mix for the same seed
        from edspdf_spark import synth

        k = 20 if self.smoke else 200
        start = 1 + (self.seed % 100000) * k
        pdfs = [(f"https://example.org/doc/{i:08d}.pdf", None,
                 synth.make_pdf_bytes(i), "", "en")
                for i in range(start, start + k)]
        return pdfs, html_rows(self.seed, k)

    def detail(self, spark, act: Act, traced: List[PassResult]) -> dict:
        """Per-query wall, shuffle, Python time and peak task memory,
        median over the traced passes."""
        out = {}
        for i, q in enumerate(self.queries):
            mod = WEBTEXT_QUERIES[q]
            ms = [p.metrics[i] for p in traced]
            key = f"operators.{mod}.{q}"
            out[f"{key}.wall_s"] = median(p.parts[q] for p in traced)
            out[f"{key}.shuffle_mb"] = median(
                m.total("shuffle bytes written") / 1e6 for m in ms)
            out[f"{key}.python_s"] = median(
                m.total("time to run Python workers") / 1e3 for m in ms)
            out[f"{key}.peak_mem_mb"] = median(
                max((t.peak_mem_bytes for t in m.tasks), default=0) / 1e6
                for m in ms)
        return out


WORKLOADS = {w.name: w for w in (PdfBackfill, CrawlResume, WebtextOps)}
