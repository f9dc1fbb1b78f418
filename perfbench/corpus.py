"""Seeded input corpus and the oracle's expected outputs.

The corpus is ``sources.datagen.write_sequences`` output: the frozen
default generator (zipf s=1.2 hot sources, 3% unknown class, 2%
continuation lines).  The expected values come from
``logparse_spark.oracle.parse_event`` over rows regenerated by
``datagen.generate_pdf`` — they never pass through the parquet corpus,
the scan or ``engine.py``, so a row that any of those drops or
misparses shows up as a mismatch.
"""

from __future__ import annotations

import json
import os
import shutil
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

def _expected(rows: int, seed: int) -> pd.DataFrame:
    from logparse_spark.oracle import parse_event
    from logparse_spark.sources.datagen import generate_pdf

    seq = generate_pdf(np.arange(rows), seed)
    evs = [parse_event(d, t, s) for d, t, s in zip(seq["doc_id"], seq["tokens"], seq["source"])]
    exp = pd.DataFrame({
        "doc_id": seq["doc_id"],
        "source": seq["source"],
        "n_tok": seq["n_tok"].astype("int64"),
        "rule_id": np.array([e["rule_id"] for e in evs], dtype=np.int32),
        "family": [e["family"] for e in evs],
    })
    exp["doc_crc"] = [zlib.crc32(d.encode()) for d in exp["doc_id"]]
    exp["chk"] = [zlib.crc32(f"{d}|{r}".encode()) for d, r in zip(exp["doc_id"], exp["rule_id"])]
    return exp


@dataclass
class Corpus:
    rows: int
    seed: int
    sequences: str         # write_sequences output dir
    expected: pd.DataFrame  # one oracle row per input row

    def frame(self, spark):
        """The pipeline's input DataFrame, read the way main.py reads it."""
        return spark.read.parquet(self.sequences).drop("bucket")


def build_corpus(spark, root: str, rows: int, seed: int) -> Corpus:
    """Write the corpus under ``root`` and compute its expectations in
    this process (about 0.1 ms a row).

    Built afresh by every run, never cached: a cache hit would skip the
    Spark job that a miss runs, so the measured process would start its
    warm-up in a different JIT and worker state depending on the cache
    (measured at 10,000 rows: resume_tail samples 5.7 s after a build,
    7.1 s on a hit) and medians would shift between otherwise equal
    runs."""
    from logparse_spark.sources.datagen import write_sequences

    seq_path = os.path.join(root, "sequences")
    write_sequences(spark, seq_path, rows, seed=seed)
    return Corpus(rows, seed, seq_path, _expected(rows, seed))


def cold_tail(expected: pd.DataFrame, share: float = 0.03) -> list[str]:
    """The coldest sources whose rows add up to at most ``share`` of the
    corpus (at least one source)."""
    counts = expected.groupby("source").size()
    tail, acc = [], 0
    for src, n in sorted(counts.items(), key=lambda kv: (kv[1], kv[0])):
        if tail and acc + n > share * len(expected):
            break
        tail.append(src)
        acc += n
    return tail


# ---------------------------------------------------------------- checks
#
# Each check returns a list of problems; an empty list means the output
# matches the oracle.  They read the pipeline's files with pyarrow and
# plain json, never through Spark.

def n_buckets_of(out: str) -> int:
    with open(os.path.join(out, "ledger", "_meta.json")) as f:
        return int(json.load(f)["n_buckets"])


def expected_partitions(exp: pd.DataFrame, n_buckets: int) -> dict:
    """(source, bucket) -> the manifest row the oracle predicts."""
    exp = exp.assign(bucket=exp["doc_crc"] % n_buckets)
    out = {}
    for (src, b), g in exp.groupby(["source", "bucket"]):
        hist = g.groupby("rule_id").size()
        out[(src, int(b))] = {
            "routed_rows": len(g),
            "total_tokens": int(g["n_tok"].sum()),
            "unknown_rows": int((g["rule_id"] == -1).sum()),
            "rule_histogram": {str(int(k)): int(v) for k, v in hist.items()},
            "checksum": int(g["chk"].sum()),
        }
    return out


def check_metrics(metrics: dict, exp: pd.DataFrame) -> list[str]:
    want = {
        "routed_rows": len(exp),
        "total_tokens": int(exp["n_tok"].sum()),
        "unknown_rows": int((exp["rule_id"] == -1).sum()),
    }
    return [f"run metric {k}={metrics.get(k)} expected {v}"
            for k, v in want.items() if metrics.get(k) != v]


def check_rule_histogram(out: str, exp: pd.DataFrame) -> list[str]:
    tbl = pq.read_table(os.path.join(out, "metrics", "rule_histogram")).to_pydict()
    got = {(f, int(r)): int(c) for f, r, c in zip(tbl["family"], tbl["rule_id"], tbl["cnt"])}
    want = {(f, int(r)): int(c) for (f, r), c in exp.groupby(["family", "rule_id"]).size().items()}
    if got == want:
        return []
    bad = sorted(k for k in got.keys() | want.keys() if got.get(k) != want.get(k))
    return [f"rule histogram differs on {len(bad)} (family, rule_id) keys, e.g. "
            f"{bad[0]}: got {got.get(bad[0])} expected {want.get(bad[0])}"]


def check_manifests(out: str, exp: pd.DataFrame, n_buckets: int) -> list[str]:
    got = {}
    mdir = os.path.join(out, "manifests")
    for name in sorted(os.listdir(mdir)):
        if name.startswith(("_", ".")):
            continue
        with open(os.path.join(mdir, name)) as f:
            for line in f:
                m = json.loads(line)
                got[(m["source"], int(m["bucket"]))] = {
                    k: m[k] for k in ("routed_rows", "total_tokens", "unknown_rows",
                                      "rule_histogram", "checksum")}
    want = expected_partitions(exp, n_buckets)
    if got == want:
        return []
    bad = sorted(k for k in got.keys() | want.keys() if got.get(k) != want.get(k))
    return [f"manifests differ on {len(bad)} (source, bucket) partitions, e.g. {bad[0]}"]


def check_sinks(out: str, exp: pd.DataFrame) -> list[str]:
    """Every input row sits in the sinks exactly once, with the oracle's
    rule id."""
    tbl = ds.dataset(os.path.join(out, "sinks"), format="parquet",
                     partitioning="hive").to_table(columns=["doc_id", "rule_id"])
    got = tbl.to_pandas().sort_values("doc_id", kind="stable").reset_index(drop=True)
    want = exp[["doc_id", "rule_id"]].sort_values("doc_id", kind="stable").reset_index(drop=True)
    problems = []
    if len(got) != len(want):
        problems.append(f"sinks hold {len(got)} rows, corpus has {len(want)}")
    dups = int(got["doc_id"].duplicated().sum())
    if dups:
        problems.append(f"sinks hold {dups} duplicate doc_ids")
    if not problems and not (got["doc_id"].equals(want["doc_id"])
                             and (got["rule_id"].to_numpy() == want["rule_id"].to_numpy()).all()):
        problems.append("sink rows differ from the corpus (doc_id or rule_id)")
    return problems


def check_ledger(out: str, exp: pd.DataFrame, n_buckets: int) -> list[str]:
    tbl = ds.dataset(os.path.join(out, "ledger"), format="parquet").to_table()
    done = {(s, int(b)) for s, b, st in zip(tbl["source"].to_pylist(), tbl["bucket"].to_pylist(),
                                            tbl["status"].to_pylist()) if st == "done"}
    missing = set(expected_partitions(exp, n_buckets)) - done
    return [f"ledger misses {len(missing)} partitions, e.g. {sorted(missing)[0]}"] if missing else []


def parquet_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (inode, size) of every parquet file under ``root``."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, n))
                out[os.path.join(dirpath, n)] = (st.st_ino, st.st_size)
    return out


def written_since(before: dict[str, tuple[int, int]], root: str) -> dict[str, tuple[int, int]]:
    """The parquet files under ``root`` that are new or replaced since
    ``before`` (a ``parquet_files`` snapshot)."""
    return {p: v for p, v in parquet_files(root).items() if before.get(p) != v}


def _link_parts(src: str, dst: str) -> None:
    """Hard-link data files (Spark only ever deletes or replaces them);
    copy markers and checksums, which a later commit may rewrite in place."""
    if os.path.basename(src).startswith("part-"):
        os.link(src, dst)
    else:
        shutil.copy2(src, dst)


def restore_tree(base: str, out: str, drop_sources: list[str]) -> None:
    """Copy a completed run's output tree and remove the ledger rows of
    ``drop_sources``, so a resumed run finds exactly those pending."""
    shutil.rmtree(out, ignore_errors=True)
    shutil.copytree(base, out, copy_function=_link_parts)
    led = os.path.join(out, "ledger")
    names = [n for n in os.listdir(led) if n.endswith(".parquet") and not n.startswith(".")]
    tbl = pa.concat_tables([pq.read_table(os.path.join(led, n)) for n in names])
    keep = pc.invert(pc.is_in(tbl["source"], value_set=pa.array(drop_sources)))
    for n in os.listdir(led):
        if n.endswith((".parquet", ".parquet.crc")):
            os.remove(os.path.join(led, n))
    pq.write_table(tbl.filter(keep), os.path.join(led, "part-00000-restored.parquet"))
