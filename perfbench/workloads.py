"""The workloads.  Each one prepares its seeded inputs, runs one timed
operation per call of ``op``, and checks the outputs after the timed loop.

An operation is what a user of the system waits for: a cold job with its
crash-resume (synth_job), one scan-and-pipeline pass over a source tree
(stdlib_pipeline), or one registry query (dedup_cc).  Each run times one
operation in a fresh Spark session, the way spark-submit runs a job, so
the cold JVM is part of what users wait for.  ``op``
returns the input megabytes it ingested and the outputs the checks compare.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from . import inputs
from .kernel import ast_definitions, fidelity

_FP_MOD = 2 ** 63


def fingerprint(df) -> tuple:
    """(rows, order-independent hash) of a DataFrame, in one Spark job."""
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0) % _FP_MOD


def md5_fingerprint(df, columns) -> tuple:
    """(rows, Σ md5 prefix) over the columns as strings — reproducible in
    Python for rows fetched from DuckDB (see ``md5_fingerprint_rows``)."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in columns]
    h = F.conv(F.substring(F.md5(F.concat_ws("\u0001", *cols)), 1, 15), 16, 10)
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(h.cast("decimal(38,0)")).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def _spark_str(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def md5_fingerprint_rows(rows) -> tuple:
    total = 0
    for row in rows:
        s = "\u0001".join(_spark_str(v) for v in row)
        total += int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
    return len(rows), total


def deliverables(res) -> dict:
    """What a caller of run_pipeline keeps: triples, entities, global schema."""
    return {"triples": fingerprint(res.triples), "entities": fingerprint(res.entities),
            "schema_sha256": hashlib.sha256(res.global_schema_json.encode()).hexdigest()}


class Workload:
    """One workload of a run: ``generate`` makes the input content (once in
    set-up), ``prepare`` writes the seeded input (three times in set-up),
    ``op`` is one timed operation, the rest runs after the timed loop."""

    name = ""

    def __init__(self, spark, tracer, work: str, seed: int, smoke: bool):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.smoke = seed, smoke
        self.input: dict = {}

    def generate(self) -> None:
        """Make the seed-independent input content, once per run."""

    def prepare(self, out_dir: str) -> None:
        raise NotImplementedError

    def op(self, i: int) -> dict:
        raise NotImplementedError

    def check(self, outs: list) -> list:
        """(op index or None, message) for each problem found after the
        timed loop; an empty list means every output was correct."""
        return _same_across(outs_of(outs))

    def ingested_mb(self):
        """Input MB the program actually ingested, when only a query after
        the loop can tell (None: each operation reported its own)."""
        return None

    def report(self) -> dict:
        """Numbers printed and recorded with every run."""
        return {}

    def layers(self) -> dict:
        """Workload-specific per-layer numbers (traced run only)."""
        return {}

    def calibration_df(self):
        """The input as the program reads it, for the Python task calibration."""
        raise NotImplementedError

    def kernel_docs(self):
        """(module_id, lang, content) for the in-process kernel pass."""
        return []

    def close(self) -> None:
        """Release what the operations left behind."""


def outs_of(results: list) -> list:
    return [r and r["out"] for r in results]


def _same_across(outs: list) -> list:
    """Every operation ran on the same input, so every output must match
    the first one."""
    done = [(i, o) for i, o in enumerate(outs) if o is not None]
    return [(i, "output differs from the run's first operation")
            for i, o in done[1:] if o != done[0][1]]


# --- synth_job -----------------------------------------------------------------

class SynthJob(Workload):
    """Cold ``run_job`` into a fresh warehouse, then a crash after the
    extraction checkpoint (the markers of the link/CC/RI stages deleted)
    and a resumed run."""

    name = "synth_job"
    CRASHED = ("entities", "alias_labels", "entities_canonical", "triples")

    def prepare(self, out_dir):
        self.input = inputs.synth_corpus(self.seed, 150 if self.smoke else 1000, out_dir)

    def _job(self, corpus_path, wh):
        from scrapontologies_spark.plans.job import run_job

        corpus = self.spark.read.parquet(corpus_path)
        with self.tracer.span("run_job"):
            cold = run_job(self.spark, corpus, wh)
        for stage in self.CRASHED:
            os.remove(os.path.join(wh, "_manifest", f"{stage}.json"))
        with self.tracer.span("run_job"):
            resumed = run_job(self.spark, corpus, wh)
        return cold, resumed

    def op(self, i):
        wh = os.path.join(self.work, "warehouse")
        shutil.rmtree(wh, ignore_errors=True)
        cold, resumed = self._job(self.input["path"], wh)
        self.last_wh, self.last_resumed = wh, resumed
        return {"mb": self.input["bytes"] / 1e6,
                "out": {k: (v.rows, v.fingerprint) for k, v in cold.items()},
                "resumed": {k: (v.rows, v.fingerprint, v.skipped) for k, v in resumed.items()}}

    def check(self, outs):
        """The resume rebuilds exactly the crashed stages, with the cold
        run's fingerprints; the raw triples match the sequential oracle."""
        problems = _same_across(outs_of(outs))
        for i, o in enumerate(outs):
            if o is None:
                continue
            rebuilt = {k for k, v in o["resumed"].items() if not v[2]}
            if rebuilt != set(self.CRASHED):
                problems.append((i, f"resume rebuilt {sorted(rebuilt)}"))
            for k, (rows, fp, _) in o["resumed"].items():
                if (rows, fp) != o["out"][k]:
                    problems.append((i, f"resumed stage {k} fingerprint differs from the cold run"))
            if o["out"]["triples"][0] == 0 or o["out"]["entities"][0] == 0:
                problems.append((i, "empty triples or entities"))
            if o["out"]["triples_raw"][0] != self._oracle_triples():
                problems.append((i, f"{o['out']['triples_raw'][0]} raw triples, the "
                                    f"sequential oracle has {self._oracle_triples()}"))
        return problems

    def _oracle_triples(self) -> int:
        """Raw triple count by code_gazetteer's sequential document_triples."""
        from scrapontologies_spark.functions.code_gazetteer import document_triples

        if "oracle_triples" not in self.input:
            self.input["oracle_triples"] = sum(
                len(document_triples(r["repo"], r["path"], r["lang"], r["content"],
                                     chunk_bytes=1024))
                for r in pq.read_table(self.input["path"]).to_pylist())
        return self.input["oracle_triples"]

    def layers(self):
        files, size = 0, 0
        for d, _, fs in os.walk(self.last_wh):
            if "/_manifest" in d:
                continue
            for f in fs:
                if f.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, f))
        return {"io.mb_written": size / 1e6, "io.files_written": files,
                "io.stages_rebuilt": sum(not v.skipped for v in self.last_resumed.values())}

    def calibration_df(self):
        return self.spark.read.parquet(self.input["path"])

    def kernel_docs(self):
        t = pq.read_table(self.input["path"]).to_pylist()
        return [(f"{r['repo']}/{r['path']}", r["lang"], r["content"]) for r in t]


# --- stdlib_pipeline ---------------------------------------------------------

class StdlibPipeline(Workload):
    """corpus_from_files over a slice of the installed CPython library (file
    scan included in the timed operation), then run_pipeline deliverables."""

    name = "stdlib_pipeline"
    REPO = "stdlib"

    def prepare(self, out_dir):
        self.input = inputs.stdlib_tree(self.seed, os.path.join(out_dir, "tree"), self.smoke)
        self.last = self._last_collected = None

    def _run(self, root):
        from scrapontologies_spark.plans.pipeline import run_pipeline
        from scrapontologies_spark.sources.files import corpus_from_files

        with self.tracer.span("corpus_from_files"):
            corpus = corpus_from_files(self.spark, root, repo=self.REPO, commit="v3.11")
        with self.tracer.span("run_pipeline"):
            res = run_pipeline(corpus, chunk_bytes=1024, with_schemas=True, emit_chunks=False)
        res.corpus = corpus
        return res

    def op(self, i):
        if self.last is not None:
            self.last.doc_rows.unpersist()
        res = self._run(self.input["root"])
        with self.tracer.span("collect"):
            out = deliverables(res)
        self.last, self._last_collected = res, None
        return {"mb": None, "out": out}

    def _collected(self):
        """Triples and ingested (path → bytes) of the last operation,
        collected once after the loop."""
        if self._last_collected is None:
            triples = self.last.triples.select("subj", "pred", "obj", "rel_type").collect()
            docs = self.last.corpus.select("path", F.octet_length("content").alias("b")).collect()
            self._last_collected = ([tuple(t) for t in triples], {r["path"]: r["b"] for r in docs})
        return self._last_collected

    def _files(self):
        """(path, lang, text) of every file on disk the scan's extension
        routing accepts, in path order."""
        from scrapontologies_spark.sources.files import EXT_LANG

        root = self.input["root"]
        for d, dirs, fs in os.walk(root):
            dirs.sort()
            for f in sorted(fs):
                lang = EXT_LANG.get(f.rsplit(".", 1)[-1].lower())
                if lang:
                    p = os.path.join(d, f)
                    with open(p, encoding="utf-8", errors="replace") as fh:
                        yield os.path.relpath(p, root), lang, fh.read()

    def ingested_mb(self):
        return sum(self._collected()[1].values()) / 1e6 if self.last else None

    def report(self):
        """Python definition fidelity against ast over every parsable .py
        file on disk, the ones the scan drops included."""
        if self.last is None:
            return {}
        gold = {}
        for path, _lang, text in self._files():
            if path.endswith(".py"):
                defs = ast_definitions(text)
                if defs is not None:
                    gold[f"{self.REPO}/{path}"] = defs
        triples, _ = self._collected()
        return fidelity(gold, [t[:3] for t in triples if t[1] in ("defines", "has_method")])

    def check(self, outs):
        """The triples equal the sequential oracle (code_gazetteer's
        document_triples) over the files the scan ingested."""
        from scrapontologies_spark.functions.code_gazetteer import document_triples

        problems = _same_across(outs_of(outs))
        if self.last is None:
            return problems
        triples, ingested = self._collected()
        expected = set()
        for path, lang, text in self._files():
            if path in ingested:
                expected.update(document_triples(self.REPO, path, lang, text, chunk_bytes=1024))
        if len(triples) != len(expected) or set(triples) != expected:
            problems.append((None, f"{len(triples)} triples, the sequential oracle has "
                                   f"{len(expected)} (or they differ)"))
        if not triples:
            problems.append((None, "no triples"))
        return problems

    def layers(self):
        on_disk = sum(1 for _ in self._files())
        ingested = len(self._collected()[1])
        return {"files.files_on_disk": on_disk, "files.docs_ingested": ingested,
                "files.skipped": on_disk - ingested,
                "files.input_splits": self.last.corpus.rdd.getNumPartitions()}

    def calibration_df(self):
        return self.last.corpus

    def kernel_docs(self):
        return ((f"{self.REPO}/{path}", lang, text) for path, lang, text in self._files())

    def close(self):
        if self.last is not None:
            self.last.doc_rows.unpersist()


# --- dedup_cc ----------------------------------------------------------------

class DedupCC(Workload):
    """The registry query dedup_keep_canonical over the driver-shaped
    documents table, forced whole by a fingerprint: near-duplicate pairs,
    their clusters by the large-star/small-star CC loop, and the surviving
    documents.  It contains the whole of dedup_clusters; cc_components runs
    the same CC loop on other edges and is left out to keep the run short."""

    name = "dedup_cc"
    QUERY = "dedup_keep_canonical"
    DOCS = 5000  # rows of the sf0.1 documents table

    def generate(self):
        self.rows, self.n_files = inputs.generate_documents(
            self.spark, 300 if self.smoke else self.DOCS, os.path.join(self.work, "generated"))
        self._oracle = None

    def prepare(self, out_dir):
        self.input = inputs.documents_table(self.rows, self.n_files, self.seed, out_dir)

    def op(self, i):
        from scrapontologies_spark.plans import driver_queries

        with self.tracer.span(self.QUERY):
            df = driver_queries.queries()[self.QUERY](self.spark, self.input["dir"])
            out = md5_fingerprint(df, sorted(df.columns))
        return {"mb": self.input["bytes"] / 1e6, "out": out}

    def oracle(self) -> dict:
        """DuckDB answers of the registry's oracle SQL: the query's
        fingerprint, and the cluster sizes of dedup_clusters.  Document
        content does not depend on the seed, so the answers are cached under
        the work directory by a hash of the content and the SQL."""
        if self._oracle is not None:
            return self._oracle
        import duckdb

        from scrapontologies_spark.plans import driver_queries

        sqls = driver_queries.oracle_sql()
        sql, clusters_sql = sqls[self.QUERY], sqls["dedup_clusters"]
        table = os.path.join(self.input["dir"], "documents.parquet")
        key = hashlib.sha256(json.dumps([self.rows, sql, clusters_sql]).encode()).hexdigest()
        cache = os.path.join(os.path.dirname(self.work), f"oracle-{key[:16]}.json")
        if os.path.exists(cache):
            with open(cache) as f:
                self._oracle = json.load(f)
            return self._oracle
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('%s')"
                        % os.path.join(table, "*.parquet").replace("'", "''"))
            cols = [c[0] for c in con.execute(sql).description]
            order = ", ".join(f'"{c}"' for c in sorted(cols))
            fp = md5_fingerprint_rows(con.execute(f"SELECT {order} FROM ({sql})").fetchall())
            sizes = [n for (n,) in con.execute(
                f"SELECT count(*) FROM ({clusters_sql}) GROUP BY cluster_id").fetchall()]
        finally:
            con.close()
        self._oracle = {"fingerprint": list(fp), "cluster_sizes": sorted(sizes)}
        with open(cache + ".tmp", "w") as f:
            json.dump(self._oracle, f)
        os.replace(cache + ".tmp", cache)
        return self._oracle

    def check(self, outs):
        problems = _same_across(outs_of(outs))
        want = tuple(self.oracle()["fingerprint"])
        return problems + [(i, f"{self.QUERY} differs from the DuckDB oracle")
                           for i, o in enumerate(outs) if o and o["out"] != want]

    def report(self):
        """Shape of the duplicate structure the CC loop works on."""
        sizes = self.oracle()["cluster_sizes"]
        multi = [n for n in sizes if n > 1]
        return {"dedup.docs": self.input["docs"], "dedup.clusters": len(multi),
                "dedup.pairs_in_clusters": sum(n * (n - 1) // 2 for n in multi),
                "dedup.max_cluster_size": max(sizes, default=0),
                "dedup.docs_removed": sum(n - 1 for n in multi)}

    def calibration_df(self):
        from scrapontologies_spark.plans.driver_helpers import docs_table

        return docs_table(self.spark, self.input["dir"])


WORKLOADS = {w.name: w for w in (SynthJob, StdlibPipeline, DedupCC)}
