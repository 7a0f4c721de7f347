"""The benchmark's workloads: seeded inputs, warm-up, timed passes, checks.

extract_fresh
    ``plans.pipeline.extract`` over seeded fixture pages (88% HTML in five
    charset variants, 7% PDF, 5% junk, about 20% on one hot host) into a
    parquet sink. Per-document kernel CPU, the Arrow/pandas boundary and the
    sink; no shuffle, no snapshot table, no job plumbing.

dedup_corpus
    ``contract`` queries q18 (exact dedup), q19 (n-gram Jaccard) and q20
    (MinHash LSH) over a seeded ``documents.parquet`` made of fixture article
    texts; the queries inject exact duplicates for 1/11 of the documents and
    near duplicates for 1/7. MinHash CPU, joins and broadcasts; little
    shuffle, and no Python kernel runs.

``JobResume`` drives ``plans.job.run_extraction_job`` and the snapshot table
for the traced run's layer sweep; it is not a timed workload.

Inputs are a pure function of the seed: pages come from ``fixtures.page_row``
and the committed half of a job's input is a seeded sample of its urls.
Generating inputs and checking outputs is benchmark-side work, never timed.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

from py_image_toolkit_spark import contract
from py_image_toolkit_spark.config import ExtractConfig
from py_image_toolkit_spark.fixtures import page_row
from py_image_toolkit_spark.oracle.extractor import extract_pages
from py_image_toolkit_spark.oracle_compare import _canon
from py_image_toolkit_spark.plans.job import run_extraction_job
from py_image_toolkit_spark.plans.pipeline import extract
from py_image_toolkit_spark.sources.tables import SnapshotTable
from py_image_toolkit_spark.testing import RESULT_COLS, norm_spans, norm_value

N_PAGES = 10_000  # extract_fresh input pages
N_DOCS = 2_500  # dedup_corpus documents
COMMITTED_SHARE = 0.5  # of a job's input, committed before each job pass
WARM_PAGES = 500  # warm-up input, drawn from page indices past the workload's
WARM_DOCS = 200
ORACLE_SAMPLE = 100  # urls per pass compared byte for byte with the oracle
DEDUP_QUERIES = ("q18_dedup_exact", "q19_ngram_jaccard", "q20_minhash_lsh")
RULES = len(ExtractConfig().rules)

_PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        # UTC-adjusted so Spark reads it as TIMESTAMP, as the fixture's own
        # Spark-written pages are
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
_DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _write_pages(rows: list[dict], path: str, n_files: int) -> None:
    os.makedirs(path)
    step = -(-len(rows) // n_files)
    for k in range(0, len(rows), step):
        table = pa.Table.from_pylist(rows[k:k + step], schema=_PAGES_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{k // step:05d}.parquet"))


def _failed_pass(what: str) -> None:
    print(f"perfbench: {what} raised:", file=sys.stderr)
    traceback.print_exc()


class _Pages:
    """Seeded fixture pages and the extraction output checks."""

    def __init__(self, work: str, seed: int, n_pages: int):
        self.work = os.path.join(work, self.name)
        self.seed = seed
        self.n_pages = n_pages
        self.rng = random.Random(seed)

    def prepare(self) -> None:
        self.rows = [page_row(i, self.seed) for i in range(self.n_pages)]
        self.by_url = {r["url"]: r for r in self.rows}
        # as many files as bench.py's Spark-written pages table has
        self.n_files = 2 * len(os.sched_getaffinity(0))
        self.pages = os.path.join(self.work, "pages")
        _write_pages(self.rows, self.pages, self.n_files)
        warm = [page_row(self.n_pages + i, self.seed) for i in range(WARM_PAGES)]
        self.warm_pages = os.path.join(self.work, "warm_pages")
        _write_pages(warm, self.warm_pages, 2)

    def check(self, path: str, expected: list[str]) -> int:
        """Failed documents among the extraction records under ``path``.

        An expected url fails unless it has exactly one row per rule, none of
        them a contained exception (``parse error:``), and, for a seeded
        sample, rows byte-identical to the pure-Python oracle. Any other url
        fails if it shows up at all."""
        frame = pq.read_table(path).to_pandas()
        counts = frame["url"].value_counts()
        want = set(expected)
        bad = {u for u, c in counts.items() if c != RULES or u not in want}
        bad.update(u for u in expected if u not in counts.index)
        crashed = frame["message"].fillna("").str.startswith("parse error:")
        bad.update(frame.loc[crashed, "url"])
        sample = self.rng.sample(expected, min(ORACLE_SAMPLE, len(expected)))
        bad.update(self.oracle_mismatches(frame, sample))
        return len(bad)

    def oracle_mismatches(self, frame, urls: list[str]) -> set[str]:
        want: dict[str, list[dict]] = {}
        for rec in extract_pages(
            (u, self.by_url[u]["html"], self.by_url[u]["warc_ts"], self.by_url[u]["lang"])
            for u in urls
        ):
            want.setdefault(rec["url"], []).append(rec)
        got_frame = frame[frame["url"].isin(urls)].sort_values(["url", "rule"])
        if hasattr(got_frame["warc_ts"].dtype, "tz"):
            got_frame = got_frame.assign(warc_ts=got_frame["warc_ts"].dt.tz_convert(None))
        got: dict[str, list[dict]] = {}
        for rec in got_frame.to_dict("records"):
            got.setdefault(rec["url"], []).append(rec)
        bad = set()
        for url in urls:
            a, b = got.get(url, []), want.get(url, [])
            if len(a) != len(b) or any(_record_differs(x, y) for x, y in zip(a, b)):
                bad.add(url)
        return bad


class ExtractFresh(_Pages):
    name = "extract_fresh"
    warm_passes = 3  # untimed passes on the input; walls are about flat after them
    pass_s = 2.0  # nominal pass wall on 4 cores; sets the timed pass count

    def __init__(self, work: str, seed: int, n_pages: int = N_PAGES):
        super().__init__(work, seed, n_pages)
        self.sink = os.path.join(self.work, "sink")
        self.raised = False

    def ready(self, spark) -> None:
        pass

    def warm(self, spark, tag: str) -> None:
        extract(spark.read.parquet(self.warm_pages)).write.mode("overwrite").parquet(
            os.path.join(self.work, f"warm-{tag}")
        )

    def run(self, spark) -> None:
        """The timed pass: pages → ``extract`` → parquet sink."""
        try:
            extract(spark.read.parquet(self.pages)).write.mode("overwrite").parquet(self.sink)
            self.raised = False
        except Exception:  # noqa: BLE001 — a raising pass fails all its docs
            _failed_pass("extract")
            self.raised = True

    def check_run(self) -> tuple[int, int]:
        """(attempted, failed) documents of the last pass."""
        if self.raised:
            return self.n_pages, self.n_pages
        return self.n_pages, self.check(self.sink, list(self.by_url))

    def docs_per_pass(self) -> int:
        return self.n_pages


class JobResume(_Pages):
    """A resumable job run over pages half of which are already committed."""

    name = "job_resume"

    def prepare(self) -> None:
        super().prepare()
        done = set(self.rng.sample(range(self.n_pages), int(self.n_pages * COMMITTED_SHARE)))
        self.committed = {self.rows[i]["url"] for i in done}
        self.todo = sorted(set(self.by_url) - self.committed)
        self.done_pages = os.path.join(self.work, "done_pages")
        _write_pages([self.rows[i] for i in sorted(done)], self.done_pages, self.n_files)

    def ready(self, spark) -> None:
        """Commit the sampled half with the engine itself, in a fresh run and
        a resumed one: the base every pass copies."""
        self.base = os.path.join(self.work, "base")
        out, runs = self.tables(self.base)
        pages = spark.read.parquet(self.done_pages)
        run_extraction_job(spark, pages.sample(fraction=0.5, seed=self.seed), out, runs, run_id="base-1")
        run_extraction_job(spark, pages, out, runs, run_id="base-2")

    @staticmethod
    def tables(root: str) -> tuple[SnapshotTable, SnapshotTable]:
        return SnapshotTable(os.path.join(root, "out")), SnapshotTable(os.path.join(root, "runs"))

    def warm(self, spark, tag: str) -> None:
        out, runs = self.tables(os.path.join(self.work, f"warm-{tag}"))
        run_extraction_job(spark, spark.read.parquet(self.warm_pages), out, runs, run_id="warm")

    def fresh_copy(self, tag: str) -> tuple[SnapshotTable, SnapshotTable]:
        root = os.path.join(self.work, f"pass-{tag}")
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(self.base, root)
        return self.tables(root)

    def run_job(self, spark, out: SnapshotTable, runs: SnapshotTable, tag: str) -> dict:
        pages = spark.read.parquet(self.pages)
        return run_extraction_job(spark, pages, out, runs, run_id=f"pass-{tag}")

    def new_commit(self, out: SnapshotTable) -> str:
        return os.path.join(out.data_dir, out.latest_snapshot()["data_dirs"][-1])

    def check_commit(self, out: SnapshotTable) -> int:
        """Failed documents of a job pass: every todo url committed once per
        rule, and no already-committed url committed again."""
        return self.check(self.new_commit(out), self.todo)


def _record_differs(eng: dict, ora: dict) -> bool:
    for col in RESULT_COLS:
        if col == "spans":
            if norm_spans(eng[col]) != norm_spans(ora[col]):
                return True
        elif norm_value(eng[col]) != norm_value(ora[col]):
            return True
    return False


def run_query(spark, name: str, sf_dir: str):
    """One contract query's rows, collected to the driver."""
    try:
        return contract.QUERIES[name](spark, sf_dir).toPandas()
    finally:
        contract.release_persists()
        spark.catalog.clearCache()


def write_corpus(path: str, seed: int, n_docs: int, first_page: int = 0) -> int:
    """documents.parquet from the article text of the next ``n_docs`` HTML
    fixture pages; returns the page index after the last one used."""
    docs, i = [], first_page
    while len(docs) < n_docs:
        row = page_row(i, seed)
        i += 1
        if row["text"] is not None:
            docs.append(
                {
                    "doc_id": len(docs),
                    "text": row["text"],
                    "lang": row["lang"],
                    "source": row["url"].split("/")[2],
                    "n_chars": len(row["text"]),
                }
            )
    os.makedirs(path)
    pq.write_table(pa.Table.from_pylist(docs, schema=_DOCS_SCHEMA), os.path.join(path, "documents.parquet"))
    return i


class DedupCorpus:
    name = "dedup_corpus"
    warm_passes = 2  # untimed passes on the corpus; walls still fall slowly after them
    pass_s = 3.5  # nominal pass wall on 4 cores; sets the timed pass count

    def __init__(self, work: str, seed: int, n_docs: int = N_DOCS):
        self.work = os.path.join(work, self.name)
        self.seed = seed
        self.n_docs = n_docs

    def prepare(self) -> None:
        self.corpus = os.path.join(self.work, "corpus")
        nxt = write_corpus(self.corpus, self.seed, self.n_docs)
        self.warm_corpus = os.path.join(self.work, "warm_corpus")
        write_corpus(self.warm_corpus, self.seed, WARM_DOCS, first_page=nxt)

    def ready(self, spark) -> None:
        """Start computing the reference rows: each query's unedited DuckDB
        ``oracle_sql`` over the same corpus, once per run, in a thread that
        overlaps the first, untimed pass."""
        pool = ThreadPoolExecutor(max_workers=1)
        self._reference = pool.submit(self._duckdb_rows)
        pool.shutdown(wait=False)

    def reference(self) -> dict:
        return self._reference.result()

    def _duckdb_rows(self) -> dict:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET enable_progress_bar = false")  # stdout carries only the result
            con.execute(f"SET temp_directory = '{os.path.join(self.work, 'duckdb_tmp')}'")
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(self.corpus, 'documents.parquet')}')"
            )
            return {q: _canon(con.execute(contract.ORACLE_SQL[q]).fetchdf()) for q in DEDUP_QUERIES}
        finally:
            con.close()

    def warm(self, spark, tag: str) -> None:
        for name in DEDUP_QUERIES:
            run_query(spark, name, self.warm_corpus)

    def run(self, spark) -> None:
        """The timed pass: q18, q19 and q20 in turn, rows collected."""
        self.rows = {}
        for name in DEDUP_QUERIES:
            try:
                self.rows[name] = run_query(spark, name, self.corpus)
            except Exception:  # noqa: BLE001 — a raising query fails its pass
                _failed_pass(name)

    def check_run(self) -> tuple[int, int]:
        """(attempted, failed) query passes of the last pass: a query fails
        if it raised or its rows differ from the DuckDB reference."""
        failed = 0
        for name in DEDUP_QUERIES:
            if name not in self.rows or _canon(self.rows[name]) != self.reference()[name]:
                print(f"perfbench: {name} failed its check", file=sys.stderr)
                failed += 1
        return len(DEDUP_QUERIES), failed

    def docs_per_pass(self) -> int:
        return self.n_docs


WORKLOADS = {w.name: w for w in (ExtractFresh, DedupCorpus)}
