"""Raw log-file ingestion (systemlog.py §parse_log / O11 [R-H]): turn
actual ``system.log`` text files into the binding `sequences` shape —
header-line detection + continuation-line folding (stack traces attach
to the PREVIOUS event), then byte-tokenize.

Design: ``spark.read.text(wholetext=True)`` gives one row per file, so
the order-dependent fold runs vectorized inside one mapInArrow batch
per file — correct line order guaranteed (a line-per-row scan does NOT
guarantee order across splits), parallel across files.  Memory bound =
largest single file; production log files rotate at ~100MB-1GB, well
inside an executor.  The reference's `**extras` node tagging becomes
the `source` column derived from the file path.
"""

from __future__ import annotations

import os
import re
import zlib
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from logparse_spark.rulebook import HEADER_FORMATS

# header detection only needs the line prefix shape, not the full parse
_HEADER_PROBE = re.compile(
    r"^[A-Z]+\s+\[[^\]]+\]\s+\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3}\s+\w+\.java",
    re.ASCII,
)


def iter_fold(lines) -> "Iterator[str]":
    """Incremental event fold over an iterable of lines: a header line
    starts a new event; non-header lines (exception text, '\\tat ...'
    frames) append to the current one (parse_log's generator fold
    [R-H]).  Leading orphan continuation lines form one unknown-routed
    event — never dropped.  Yields each event as soon as the next
    header arrives, so it works on live pipes with O(1 event) memory."""
    cur: list[str] = []
    for raw in lines:
        # strip \r too: on non-universal-newline inputs (binary pipes,
        # lone-\r files) a surviving \r breaks $-anchored rule regexes
        line = raw.rstrip("\r\n")
        if not line:
            continue
        if _HEADER_PROBE.match(line) and cur:
            yield "\n".join(cur)
            cur = [line]
        else:
            cur.append(line)
    if cur:
        yield "\n".join(cur)


def fold_lines(text: str) -> list[str]:
    """Whole-text variant of :func:`iter_fold` (per-file batch path)."""
    return list(iter_fold(text.splitlines()))


def source_from_path(path: str) -> str:
    """node name from .../<node>/system.log or the file stem."""
    base = os.path.basename(path)
    parent = os.path.basename(os.path.dirname(path))
    return parent if base.startswith("system") and parent else os.path.splitext(base)[0]


def raw_logs_to_sequences(spark: SparkSession, glob: str) -> DataFrame:
    """Text log files -> sequences(doc_id, tokens, n_tok, source)."""
    files = spark.read.text(glob, wholetext=True).selectExpr(
        "value", "input_file_name() as path"
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows_out = {"doc_id": [], "tokens": [], "n_tok": [], "source": []}
            paths = batch.column(1).to_pylist()
            texts = batch.column(0).to_pylist()
            for path, text in zip(paths, texts):
                source = source_from_path(path)
                # per-file discriminator: rotated logs (system.log,
                # system.log.1) and same-named files in different dirs
                # share `source`; without the path hash their event
                # indices would collide into duplicate doc_ids and
                # corrupt ledger/manifest/bucket semantics
                pathkey = f"{zlib.crc32((path or '').encode('utf-8')):08x}"
                for i, ev in enumerate(fold_lines(text or "")):
                    toks = list(ev.encode("utf-8"))
                    rows_out["doc_id"].append(f"{source}-{pathkey}-{i:012d}")
                    rows_out["tokens"].append(toks)
                    rows_out["n_tok"].append(len(toks))
                    rows_out["source"].append(source)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(rows_out["doc_id"], type=pa.string()),
                    pa.array(rows_out["tokens"], type=pa.list_(pa.int32())),
                    pa.array(rows_out["n_tok"], type=pa.int32()),
                    pa.array(rows_out["source"], type=pa.string()),
                ],
                names=["doc_id", "tokens", "n_tok", "source"],
            )

    return files.mapInArrow(fn, "doc_id string, tokens array<int>, n_tok int, source string")
