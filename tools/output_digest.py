"""Dump every output a pipeline run reports, in a diffable form.

Usage:  python tools/output_digest.py <seed> <dest>

Builds perfbench's corpus for ``seed`` (``perfbench.corpus``, the
benchmark's row count), then runs ``run_pipeline`` twice: a fresh run,
and a resume into a copy of its output whose ledger lost the rows of
the cold-tail sources (``perfbench.corpus.restore_tree``, as the
``resume_tail`` workload prepares it).  For each run, ``<dest>/fresh``
and ``<dest>/resume`` get:

    metrics/<table>.txt  Arrow schema (nullability included), then the
                         rows, sorted
    manifests.jsonl      the manifest lines, byte for byte
    ledger.txt           the ledger's Arrow schema, then its
                         (source, bucket, status, rows) rows, sorted
    counts.json          the routed_rows / total_tokens / unknown_rows
                         the run returned
    sinks.txt            the names beside the sinks dir and at its root,
                         then one line per source=*/bucket=* dir: its
                         data and .crc file counts and a sha256 of its
                         sorted (doc_id, family, rule_id, tokens) rows

Everything that legitimately differs between runs (run ids, commit
times, wall times, file names) is left out, so comparing two commits
on one seed is ``diff -r <dest A> <dest B>``; a staging dir a write
left beside the sinks shows in ``sinks.txt``.  The runs' own output
trees are written under ``<dest>`` and removed at the end.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile

import pyarrow.dataset as ds

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from logparse_spark.main import run_pipeline  # noqa: E402
from logparse_spark.session import get_spark  # noqa: E402
from perfbench.corpus import build_corpus, cold_tail, restore_tree  # noqa: E402
from perfbench.run import ROWS  # noqa: E402

METRIC_TABLES = ("rule_histogram", "source_level_rollup", "family_metrics")
COUNTS = ("routed_rows", "total_tokens", "unknown_rows")


def _table_text(table, columns) -> str:
    """The table's Arrow schema, then the rows of ``columns``, sorted."""
    rows = sorted(zip(*(table[c].to_pylist() for c in columns)), key=repr)
    return str(table.schema.remove_metadata()) + "\n--\n" + "".join(f"{r!r}\n" for r in rows)


def _dataset(path: str):
    return ds.dataset(path, format="parquet").to_table()


def _sinks_text(out: str) -> str:
    """The names beside and at the root of ``out``'s sinks dir, then per
    quantum dir its file counts and a hash of its rows."""
    sinks = os.path.join(out, "sinks")
    lines = [f"beside: {sorted(os.listdir(out))}", f"root: {sorted(os.listdir(sinks))}"]
    for source in sorted(d for d in os.listdir(sinks) if d.startswith("source=")):
        for bucket in sorted(os.listdir(os.path.join(sinks, source))):
            qdir = os.path.join(sinks, source, bucket)
            names = os.listdir(qdir)
            data = sorted(os.path.join(qdir, n) for n in names
                          if not n.startswith((".", "_")) and n.endswith(".parquet"))
            crc = sum(n.endswith(".crc") for n in names)
            t = ds.dataset(data, format="parquet").to_table(
                columns=["doc_id", "family", "rule_id", "tokens"])
            rows = sorted(zip(*(t[c].to_pylist() for c in t.column_names)), key=repr)
            sha = hashlib.sha256("".join(f"{r!r}\n" for r in rows).encode()).hexdigest()
            lines.append(f"{source}/{bucket} data={len(data)} crc={crc} rows={len(rows)} {sha}")
    return "".join(f"{line}\n" for line in lines)


def digest(out: str, counts: dict, dest: str) -> None:
    """Write the digest of the run output ``out`` under ``dest``."""
    os.makedirs(os.path.join(dest, "metrics"))
    for name in METRIC_TABLES:
        t = _dataset(os.path.join(out, "metrics", name))
        with open(os.path.join(dest, "metrics", f"{name}.txt"), "w") as f:
            f.write(_table_text(t, t.column_names))
    mdir = os.path.join(out, "manifests")
    with open(os.path.join(dest, "manifests.jsonl"), "wb") as f:
        for name in sorted(os.listdir(mdir)):
            if not name.startswith((".", "_")):
                with open(os.path.join(mdir, name), "rb") as part:
                    f.write(part.read())
    with open(os.path.join(dest, "ledger.txt"), "w") as f:
        f.write(_table_text(_dataset(os.path.join(out, "ledger")),
                            ["source", "bucket", "status", "rows"]))
    with open(os.path.join(dest, "counts.json"), "w") as f:
        json.dump({k: counts[k] for k in COUNTS}, f, indent=1, sort_keys=True)
    with open(os.path.join(dest, "sinks.txt"), "w") as f:
        f.write(_sinks_text(out))


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    seed, dest = int(sys.argv[1]), os.path.abspath(sys.argv[2])
    os.makedirs(dest, exist_ok=True)
    spark = get_spark()
    work = tempfile.mkdtemp(prefix=".work-", dir=dest)
    try:
        corpus = build_corpus(spark, work, ROWS, seed)
        fresh, resumed = os.path.join(work, "fresh"), os.path.join(work, "resume")
        counts = run_pipeline(spark, corpus.frame(spark), fresh, resume=False)
        digest(fresh, counts, os.path.join(dest, "fresh"))
        restore_tree(fresh, resumed, cold_tail(corpus.expected))
        counts = run_pipeline(spark, corpus.frame(spark), resumed, resume=True)
        digest(resumed, counts, os.path.join(dest, "resume"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
