"""The four benchmark workloads: generate, reference, run, verify.

Each workload owns one job that the closed loop in ``run.py`` repeats.
``generate`` writes the seeded inputs under the run's work directory,
``reference`` computes what every output row must equal, ``run`` is the
timed job and ``verify`` re-runs the same plan (or reads the job's own
output) and compares it row by row with the reference.
"""

from __future__ import annotations

import collections
import os
import re
import shutil

import numpy as np

import inputs

PAGE_REPEAT = 32          # flagship pages of ~10 KB, close to a real crawl page
FLAGSHIP_DOCS = 6_000
GNARLY_DOCS = 16_000
CURATE_DOCS = 600
ROUTED_DOCS = 2_400
ROUTED_PARTITIONS = 2     # lineage partitions; 2 chunks of 1 per pass
ROUTED_CHUNK = 1
INPUT_FILES = 16


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _corrupt(df, key: str, col: str, target):
    """Flip the first character of ``col`` on the row whose ``key`` equals
    ``target`` — the benchmark's own self-test of its correctness check."""
    from pyspark.sql import functions as F

    bad = F.concat(F.lit("#"), F.substring(F.col(col), 2, 1 << 30))
    return df.withColumn(col, F.when(F.col(key) == target, bad).otherwise(F.col(col)))


class Workload:
    name = ""
    docs = 0            # docs one pass attempts
    bytes = 0           # input HTML / payload bytes one pass reads
    shares: dict = {}   # lane → share of docs
    mixed = False       # inputs hold non-HTML payloads

    def __init__(self, root: str, work: str, seed: int):
        self.root, self.work, self.seed = root, work, seed
        self.corrupt = False          # self-test: damage one output byte
        self.fault_pass = None        # self-test: the pass whose lane raises
        self.pass_no = 0

    def stats(self) -> dict:
        return {"docs": self.docs, "bytes": self.bytes, "shares": self.shares}

    def prepare(self) -> None:
        """Untimed work before each pass."""

    # subclasses: generate(), reference(), warm(spark), run(spark),
    # verify(spark) -> (checked, correct, error_rows); html_docs() for the
    # traced layer pass.


class _ExtractWorkload(Workload):
    """parquet → run_extraction → noop, checked by md5 of the text."""

    def pages_dir(self) -> str:
        return os.path.join(self.work, "pages")

    def plan(self, spark, limit_files=None):
        from webx.config import ExtractConfig
        from webx.pipeline import run_extraction

        path = self.pages_dir()
        if limit_files:
            files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
            path = [os.path.join(path, f) for f in files[:limit_files]]
            pages = spark.read.parquet(*path)
        else:
            pages = spark.read.parquet(path)
        out = run_extraction(pages, ExtractConfig())
        if self.pass_no == self.fault_pass:
            out = _raise_on_row(out, self.fault_url)
        return out

    def warm(self, spark) -> None:
        _noop(self.plan(spark, limit_files=4))

    def run(self, spark) -> None:
        _noop(self.plan(spark))

    input_dir = pages_dir
    scaling_job = run

    def verify(self, spark):
        from pyspark.sql import functions as F

        out = self.plan(spark)
        if self.corrupt:
            out = _corrupt(out, "url", "text", self.fault_url)
        rows = out.select(
            "url", F.md5(F.col("text").cast("binary")).alias("h"), "status"
        ).collect()
        # a url counts once, so a duplicated row cannot stand in for a lost one
        correct = len({r["url"] for r in rows if self.ref.get(r["url"]) == r["h"]})
        errors = sum(1 for r in rows if r["status"] == "error")
        return max(len(rows), len(self.ref)), correct, errors

    def html_docs(self):
        """(url, html) Arrow batches of the input, as the workers get them."""
        import pyarrow.dataset as ds

        return ds.dataset(self.pages_dir()).to_batches(
            columns=["url", "html"], batch_size=2048
        )


class Flagship(_ExtractWorkload):
    name = "flagship_10k"

    def generate(self) -> None:
        docs = inputs.documents(self.seed, FLAGSHIP_DOCS)
        self._texts = [" ".join([inputs.norm(t)] * PAGE_REPEAT) for t in docs["text"]]
        ids = [int(d) for d in docs["doc_id"]]
        pages = [inputs.flagship_page(d, t) for d, t in zip(ids, self._texts)]
        self._ids = ids
        urls = [inputs.url_of(d) for d in ids]
        inputs.write_split(inputs.pages_table(urls, pages), self.pages_dir(), INPUT_FILES)
        self.docs, self.bytes = len(pages), sum(map(len, pages))
        self.shares = {"html": 1.0}
        self.fault_url = urls[0]

    def reference(self) -> None:
        self.ref = {
            inputs.url_of(d): inputs.digest(f"Doc {d}\n{t}")
            for d, t in zip(self._ids, self._texts)
        }


class GnarlyMix(_ExtractWorkload):
    name = "gnarly_mix"

    def generate(self) -> None:
        fx = inputs.gnarly_fixtures(self.root)
        names = sorted(fx)
        rng = np.random.default_rng(self.seed)
        reps = -(-GNARLY_DOCS // len(names))
        order = np.concatenate([rng.permutation(len(names)) for _ in range(reps)])
        order = order[:GNARLY_DOCS]
        urls = [f"https://gnarly.example.org/{i}/{names[k]}" for i, k in enumerate(order)]
        htmls = [fx[names[k]][0] for k in order]
        inputs.write_split(inputs.pages_table(urls, htmls), self.pages_dir(), INPUT_FILES)
        self._golden = {n: fx[n][1] for n in names}
        self._urls = list(zip(urls, (names[k] for k in order)))
        self.docs, self.bytes = len(urls), sum(len(h) for h in htmls)
        self.shares = {"html": 1.0}
        self.fault_url = urls[0]

    def reference(self) -> None:
        dig = {n: inputs.digest(g) for n, g in self._golden.items()}
        self.ref = {u: dig[n] for u, n in self._urls}


class CurateFunnel(Workload):
    """The 7-stage ``q_curate_pipeline`` funnel over its own corpus,
    checked against the DuckDB oracle of the same query."""

    name = "curate_funnel"

    def sf_dir(self) -> str:
        return os.path.join(self.work, "sf")

    def input_dir(self) -> str:
        """The funnel's input pages as parquet, for the traced scan split."""
        return os.path.join(self.work, "corpus")

    def scaling_job(self, spark) -> None:
        from webx.config import ExtractConfig
        from webx.pipeline import run_extraction

        _noop(run_extraction(spark.read.parquet(self.input_dir()), ExtractConfig()))

    def generate(self) -> None:
        docs = inputs.documents(self.seed, CURATE_DOCS)
        inputs.write_documents(docs, self.sf_dir())
        # the corpus __spark_entry__._curate_corpus_pages builds: every
        # page, an exact mirror of doc%3==0 and a last-word-dropped
        # variant of doc%7==1
        urls, pages = [], []
        for d, t in zip(docs["doc_id"], docs["text"]):
            d, page = int(d), inputs.flagship_page(int(d), t)
            urls.append(inputs.url_of(d))
            pages.append(page)
            if d % 3 == 0:
                urls.append(f"https://mirror.example.net/doc/{d}")
                pages.append(page)
            if d % 7 == 1:
                urls.append(f"https://alt.example.org/doc/{d}")
                pages.append(inputs.flagship_page(d, re.sub(r" \S+$", "", inputs.norm(t))))
        self._corpus = inputs.pages_table(urls, pages)
        inputs.write_split(self._corpus, self.input_dir(), INPUT_FILES)
        self.docs, self.bytes = len(pages), sum(map(len, pages))
        self.shares = {"html": 1.0}

    def reference(self) -> None:
        import duckdb
        import __spark_entry__ as E

        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            src = os.path.join(self.sf_dir(), "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{src}'")
            res = con.execute(E.oracle_sql()["q_curate_pipeline"])
            cols = [d[0] for d in res.description]
            self.ref = collections.Counter(
                tuple(r[cols.index(c)] for c in ("doc_id", "host", "n_tokens", "bin"))
                for r in res.fetchall()
            )
        finally:
            con.close()

    def plan(self, spark):
        import __spark_entry__ as E

        return E.q_curate_pipeline(spark, self.sf_dir())

    def warm(self, spark) -> None:
        _noop(self.plan(spark))
        spark.catalog.clearCache()

    def run(self, spark) -> None:
        try:
            _noop(self.plan(spark))
        finally:
            # the funnel persists its survivor set; a stale cache entry
            # would let the next pass skip extraction
            spark.catalog.clearCache()

    def verify(self, spark):
        out = self.plan(spark)
        if self.corrupt:
            first = min(self.ref)[0]
            out = _corrupt(out, "doc_id", "host", first)
        rows = collections.Counter(
            (r["doc_id"], r["host"], r["n_tokens"], r["bin"]) for r in out.collect()
        )
        spark.catalog.clearCache()
        correct = sum((rows & self.ref).values())
        return max(sum(rows.values()), sum(self.ref.values())), correct, 0

    def html_docs(self):
        return self._corpus.to_batches(max_chunksize=2048)


class RoutedJob(Workload):
    """``jobs/extract.py --routed``: mixed captures through the
    checkpointed chunk loop into partitioned parquet plus lineage rows."""

    name = "routed_job"
    mixed = True

    def pages_dir(self) -> str:
        return os.path.join(self.work, "captures")

    def generate(self) -> None:
        docs = inputs.documents(self.seed, ROUTED_DOCS)
        docs["kind"] = inputs.routed_kinds(self.seed, ROUTED_DOCS)
        ids = [int(d) for d in docs["doc_id"]]
        payloads = [inputs.routed_payload(k, d, t)
                    for d, t, k in zip(ids, docs["text"], docs["kind"])]
        urls = [inputs.url_of(d) for d in ids]
        inputs.write_split(inputs.pages_table(urls, payloads), self.pages_dir(), INPUT_FILES // 2)
        self.docs, self.bytes = len(payloads), sum(map(len, payloads))
        counts = collections.Counter(docs["kind"].tolist())
        self.shares = {k: round(counts[k] / len(ids), 4) for k in inputs.ROUTED_SHARES}
        self._docs = docs
        self.fault_url = urls[ids.index(next(d for d, k in zip(ids, docs["kind"]) if k == "html"))]

    def pages(self, spark):
        return spark.read.parquet(self.pages_dir())

    def reference(self) -> None:
        self.ref = {}
        for d, t, k in zip(self._docs["doc_id"], self._docs["text"], self._docs["kind"]):
            e = inputs.routed_expected(k, int(d), t)
            self.ref[inputs.url_of(int(d))] = (e[0], inputs.digest(e[1])) + e[2:]

    def _dirs(self):
        return os.path.join(self.work, "out"), os.path.join(self.work, "lineage")

    def job(self, spark, pages=None) -> None:
        from webx.config import ExtractConfig
        from webx.lineage import CheckpointStore, run_checkpointed_extraction
        from webx.route import checkpointed_routed_extract_fn

        out, ckpt = self._dirs()
        extract_fn = checkpointed_routed_extract_fn
        if self.pass_no == self.fault_pass:
            target = self.fault_url

            def extract_fn(subset, cfg, passthrough):
                res = checkpointed_routed_extract_fn(subset, cfg, passthrough)
                return _raise_on_row(res, target)

        run_checkpointed_extraction(
            spark, pages if pages is not None else self.pages(spark), out,
            CheckpointStore(ckpt), "perfbench", f"seed-{self.seed}",
            ExtractConfig(), n_partitions=ROUTED_PARTITIONS,
            chunk_size=ROUTED_CHUNK, extract_fn=extract_fn,
        )

    def prepare(self) -> None:
        """Each pass starts from empty output and checkpoint directories."""
        for p in self._dirs():
            shutil.rmtree(p, ignore_errors=True)

    def warm(self, spark) -> None:
        from webx.route import extract_mixed

        first = sorted(os.listdir(self.pages_dir()))[0]
        pages = spark.read.parquet(os.path.join(self.pages_dir(), first))
        _noop(extract_mixed(pages, payload_col="html"))

    def run(self, spark) -> None:
        self.job(spark)

    def verify(self, spark):
        from pyspark.sql import functions as F

        out, ckpt = self._dirs()
        res = spark.read.parquet(out)
        if self.corrupt:
            res = _corrupt(res, "url", "text", self.fault_url)
        rows = res.select(
            "url", "kind", F.md5(F.col("text").cast("binary")).alias("h"), "status",
            "width", "height", "sample_rate", "duration_ms",
        ).collect()
        correct = len({r["url"] for r in rows if self.ref.get(r["url"]) == tuple(r[1:])})
        errors = sum(1 for r in rows if r["status"] == "error")
        lineage_rows = spark.read.parquet(ckpt).agg(F.sum("row_count")).first()[0]
        if lineage_rows != self.docs:
            correct = 0   # lineage must account for every input row
        return max(len(rows), len(self.ref)), correct, errors

    html_docs = _ExtractWorkload.html_docs
    input_dir = pages_dir
    scaling_job = run


def _raise_on_row(df, target: str):
    """Self-test fault: a lane that raises on the row whose url is
    ``target``, so the whole job fails."""

    def boom(batches):
        for pdf in batches:
            if (pdf["url"] == target).any():
                raise RuntimeError(f"injected lane failure on {target}")
            yield pdf

    return df.mapInPandas(boom, schema=df.schema)


WORKLOADS = {w.name: w for w in (Flagship, GnarlyMix, CurateFunnel, RoutedJob)}
