"""Seeded inputs for the workloads.

The program under test only ever sees what these functions write under the
run's work directory: a parquet corpus, a source tree on disk, or the
``documents`` table the registry queries read, made by the repository's
own driver-shaped generator.
"""

from __future__ import annotations

import importlib.util
import os
import random
import shutil
import sysconfig

import pyarrow as pa
import pyarrow.parquet as pq

# --- stdlib tree ------------------------------------------------------------

# Fixed slice of the installed CPython library: every package listed (with
# its dunder and underscore modules, which the file scan drops today), every
# other top-level module in name order, and the C API headers.  It includes
# pydoc_data/topics.py (756 KB, one file) and classes far longer than a
# chunk.  The seed only decides which shard directory each file lands in,
# which moves files between scan splits.
STDLIB_PACKAGES = ("asyncio", "collections", "concurrent", "email", "importlib",
                   "json", "logging", "pydoc_data")
STDLIB_SHARDS = 8


def _stdlib_files(smoke: bool) -> list:
    lib = sysconfig.get_paths()["stdlib"]
    inc = sysconfig.get_paths()["include"]
    out = []
    if smoke:
        for name in ("abc.py", "bisect.py", "_compat_pickle.py", "json/__init__.py",
                     "json/decoder.py"):
            out.append((os.path.join(lib, name), name))
        return out
    top = sorted(f for f in os.listdir(lib) if f.endswith(".py"))
    out += [(os.path.join(lib, f), f) for f in top[::2]]
    for pkg in STDLIB_PACKAGES:
        for d, dirs, files in os.walk(os.path.join(lib, pkg)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    out.append((p, os.path.relpath(p, lib)))
    cpy = os.path.join(inc, "cpython")
    out += [(os.path.join(cpy, f), "include/cpython/" + f)
            for f in sorted(os.listdir(cpy)) if f.endswith(".h")]
    return out


def stdlib_tree(seed: int, out_dir: str, smoke: bool = False) -> dict:
    rng = random.Random(seed)
    for src, rel in _stdlib_files(smoke):
        dst = os.path.join(out_dir, f"part{rng.randrange(STDLIB_SHARDS)}", rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(src, dst)
    return {"root": out_dir}


# --- synthetic corpus (job workload) -----------------------------------------

def synth_corpus(seed: int, n_docs: int, out_dir: str) -> dict:
    from scrapontologies_spark.sources.corpus import corpus_rows

    rows = corpus_rows(n_docs, seed=seed)
    _write_rows(rows, os.path.join(out_dir, "corpus"), n_files=4)
    return {"path": os.path.join(out_dir, "corpus"),
            "bytes": sum(len(r[4].encode()) for r in rows)}


def _write_rows(rows, path: str, n_files: int,
                names=("repo", "path", "commit", "lang", "content")):
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // n_files)
    for k in range(n_files):
        part = rows[k * step:(k + 1) * step]
        if not part:
            break
        cols = {n: [r[i] for r in part] for i, n in enumerate(names)}
        pq.write_table(pa.table(cols), os.path.join(path, f"part-{k:03d}.parquet"))


# --- documents table (dedup / CC workload) ------------------------------------

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOC_COLUMNS = ("doc_id", "text", "lang", "source", "n_chars")
GENERATOR = os.path.join(ROOT, "scripts", "sf1_bench.py")


def _gen_tables():
    """``_gen_tables`` of the repository's sf1-scale script: its
    driver-shaped ``documents`` table has 60-140 words per text over an
    818-word vocabulary, every 20th document a near copy of its
    predecessor, 10 sources and 4 languages."""
    spec = importlib.util.spec_from_file_location("perfbench_sf1_bench", GENERATOR)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._gen_tables


def generate_documents(spark, n_docs: int, out_dir: str) -> tuple:
    """(rows, files) of the generator's ``documents`` table at ``n_docs``
    rows (its embeddings and events tables at their smallest, unused).
    The content does not depend on the seed."""
    _gen_tables()(spark, out_dir, n_docs, 64, 64)
    generated = os.path.join(out_dir, "documents.parquet")
    n_files = sum(f.endswith(".parquet") for f in os.listdir(generated))
    t = pq.read_table(generated, columns=list(DOC_COLUMNS))
    rows = sorted(zip(*(t.column(c).to_pylist() for c in DOC_COLUMNS)))
    shutil.rmtree(out_dir)
    return rows, n_files


def documents_table(rows: list, n_files: int, seed: int, out_dir: str) -> dict:
    """The generated rows, permuted by the seed, in ``n_files`` files: the
    seed moves rows between files and within them."""
    rows = list(rows)
    random.Random(seed).shuffle(rows)
    _write_rows(rows, os.path.join(out_dir, "documents.parquet"), n_files, DOC_COLUMNS)
    return {"dir": out_dir, "docs": len(rows),
            "bytes": sum(len(r[1].encode()) for r in rows)}
