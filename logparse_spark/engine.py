"""The rule engine (P3): ONE Arrow-batched stage doing detokenize ->
header parse -> class dispatch -> ordered first-match regex extraction
-> convert -> promote.

This is the reference's entire runtime (systemlog.py §parse_log +
§capture_line + §capture_message, rules.py combinators [R-H]) collapsed
into a single ``mapInArrow`` stage.  A batch goes Arrow -> plain Python
lists -> Arrow:

- the dominant payload, the binding ``tokens: array<int32>`` column,
  passes through ZERO-COPY (the output RecordBatch reuses the input
  Arrow buffers); the stage is IPC-bound, not regex-bound;
- detokenize reads the ListArray's flattened values buffer once per
  batch (one contiguous bytes buffer, C-level per-row slices);
- one pass per row parses the header with the first matching
  ``HEADER_FORMATS`` entry, then per emitting class the rules run in
  declaration order over the rows still unmatched (``re`` match,
  first match wins: rules.py §capture/§switch);
- every value has ``oracle.parse_text``'s semantics and never raises:
  captured fields convert through ``rulebook.convert``; a value outside
  its column type (``source_line`` int32, promoted int64) is null, and
  an invalid date gives a null ``ts``.

Scale: the stage is embarrassingly parallel (no shuffle), state-free,
and streams bounded Arrow batches, so it scales linearly with
executors; the only JVM<->Python boundary in the whole pipeline is
here, crossed once.
"""

from __future__ import annotations

import functools
import re
import sys
import zipimport
from collections.abc import Iterable, Iterator
from datetime import datetime

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

from logparse_spark.rulebook import (
    DATE_FORMAT,
    PROMOTED_COLUMNS,
    UNKNOWN_FAMILY,
    UNKNOWN_RULE_ID,
    compile_rulebook,
    convert,
)

# the stage's output schema, declared once; the Spark type derives from it
PARSED_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("source", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("level", pa.string()),
        ("thread_name", pa.string()),
        ("thread_id", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("source_file", pa.string()),
        ("source_line", pa.int32()),
        ("message", pa.string()),
        ("extra", pa.list_(pa.string())),
        ("rule_id", pa.int32()),
        ("family", pa.string()),
        ("fields", pa.map_(pa.string(), pa.string())),
    ]
    + [(c, pa.int64()) for c in PROMOTED_COLUMNS]
)
PARSED_SCHEMA = from_arrow_schema(PARSED_ARROW_SCHEMA)

_THREAD = re.compile(r"^(.*?)(?::(\d+))?$", re.ASCII)  # "name[:id]"
_INT32 = (-(1 << 31), 1 << 31)
_INT64 = (-(1 << 63), 1 << 63)

_pat = functools.lru_cache(maxsize=None)(re.compile)  # per worker, any rulebook size


def _to_int(v: str, bounds: tuple[int, int]) -> int | None:
    """``int(v)``, or ``int(float(v))`` for a float string, when it lies in
    ``bounds``; None when neither parses (e.g. more digits than ``int()``
    accepts) or the value is outside ``bounds``."""
    try:
        i = int(v)
    except ValueError:
        try:
            i = int(float(v))
        except (ValueError, OverflowError):
            return None
    return i if bounds[0] <= i < bounds[1] else None


def _ts(date: str) -> datetime | None:
    """``datetime.strptime(date, DATE_FORMAT)``, None when that raises."""
    try:
        return datetime.strptime(date, DATE_FORMAT)
    except ValueError:
        return None


def decode_tokens_arrow(tokens: pa.Array) -> list[str]:
    """ListArray<int32> -> list[str]: ONE flattened values buffer, then
    C-level bytes slices + decode per row (no per-row numpy objects)."""
    import pyarrow.compute as pc

    lengths = pc.list_value_length(tokens).to_numpy(zero_copy_only=False)
    lengths = np.nan_to_num(lengths).astype(np.int64)
    flat = tokens.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    buf = (flat & 0xFF).astype(np.uint8).tobytes()
    ends = np.cumsum(lengths)
    starts = ends - lengths
    return [buf[s:e].decode("utf-8", "replace") for s, e in zip(starts, ends)]


def parse_texts(texts: Iterable[str], compiled: dict) -> dict:
    """The rule engine core: detokenized event strings -> dict of plain
    column lists (``promoted`` maps each promoted column to its list)."""
    texts = list(texts)
    n = len(texts)
    cols = {c: [None] * n for c in (
        "level", "thread_name", "thread_id", "ts", "source_file",
        "source_line", "message", "extra")}
    level, thread_name, thread_id, ts, source_file, source_line, message, extra = cols.values()
    headers = [_pat(h, re.DOTALL | re.ASCII) for h in compiled["headers"]]
    rows_by_class: dict[str, list[int]] = {}

    # --- header parse (capture_line [R-H]): ordered format alternatives ----
    for i, text in enumerate(texts):
        m = None
        for h in headers:
            m = h.match(text)
            if m is not None:
                break
        if m is None:  # no header: the whole text is the message (unknown path)
            body = text
        else:
            lv, thread, date, sf, sl, body = m.group(
                "level", "thread", "date", "source_file", "source_line", "message")
            level[i], source_file[i] = lv, sf
            tm = _THREAD.match(thread)
            if tm is not None:
                thread_name[i], thread_id[i] = tm.groups()
            ts[i] = _ts(date)
            source_line[i] = _to_int(sl, _INT32)
            rows_by_class.setdefault(sf.replace(".java", ""), []).append(i)
        # parse_log fold [R-H]: one row == one pre-folded event; the first
        # line is the rule-match target, continuation lines go to `extra`
        head, _, rest = body.partition("\n")
        message[i] = head
        extra[i] = rest.split("\n") if rest else None

    # --- rule dispatch + ordered first-match extraction ---------------------
    rule_id = [UNKNOWN_RULE_ID] * n
    family = [UNKNOWN_FAMILY] * n
    fields: list[dict] = [{} for _ in range(n)]
    promoted = {c: [None] * n for c in PROMOTED_COLUMNS}
    for cls, rows in rows_by_class.items():
        for rule in compiled["by_class"].get(cls, ()):
            pat = _pat(rule["regex"], re.ASCII)
            convs, promote = rule["converters"], rule["promote"]
            missed = []
            for i in rows:
                m = pat.match(message[i])
                if m is None:
                    missed.append(i)
                    continue
                f = {k: v for k, v in m.groupdict().items() if v is not None}
                for k, conv in convs.items():
                    if k in f:
                        f[k] = convert(conv, f[k])
                for k, col in promote.items():
                    if k in f:
                        promoted[col][i] = _to_int(f[k], _INT64)
                rule_id[i], family[i], fields[i] = rule["rule_id"], rule["family"], f
            rows = missed
            if not rows:
                break

    return {**cols, "rule_id": rule_id, "family": family, "fields": fields,
            "promoted": promoted}


def parse_batch_arrow(batch: pa.RecordBatch, compiled: dict, schema: pa.Schema) -> pa.RecordBatch:
    tokens = batch.column("tokens")
    cols = parse_texts(decode_tokens_arrow(tokens), compiled)
    cols.update(cols.pop("promoted"))
    arrays = [
        batch.column("doc_id"),                  # zero-copy passthrough
        batch.column("source"),                  # zero-copy passthrough
        tokens.cast(pa.list_(pa.int32())),       # zero-copy passthrough
        batch.column("n_tok").cast(pa.int32()),
    ] + [  # naive ts values land as UTC instants, the session's convention
        pa.array(cols[f.name], type=f.type) for f in list(schema)[4:]
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


@functools.cache
def _compiled() -> dict:
    """The shipped rulebook, compiled once per process."""
    return compile_rulebook()


def _drop_zip_importers() -> None:
    """Remove every ``zipimporter`` from ``sys.path_importer_cache``.

    PySpark starts each Python task with ``importlib.invalidate_caches()``
    (``worker_util.setup_spark_files``), and on Python 3.11 that makes
    every cached ``zipimporter`` re-read its whole archive (fixed in
    3.12).  A parse worker holds 16 of them: two for Spark's core jar
    (5,359 entries, no ``.py``), the rest for ``pyspark.zip`` packages
    and py4j; the call took 116-212 ms a task at local[4] on a 4-core
    host, and ~0 ms once they are gone.  An import through a zip entry
    still works, as ``zipimport._zip_directory_cache`` keeps each
    archive's index.  ``_parse_batches`` calls this when it ends, after
    its own first imports, which cache three of them again."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]


def _parse_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    try:
        for batch in batches:
            if batch.num_rows:
                yield parse_batch_arrow(batch, _compiled(), PARSED_ARROW_SCHEMA)
    finally:
        _drop_zip_importers()


def parse_sequences(df: DataFrame) -> DataFrame:
    """sequences(doc_id, tokens, n_tok, source) -> parsed events DataFrame.

    The stage depends on its batches alone: the ``mapInArrow`` function
    is module-level, so the plan ships a reference to it, and each
    Python worker compiles ``rulebook.RULES`` once (``_compiled``, 0.3 ms)
    and recompiles each regex once behind the cached ``_pat``.  Nothing
    is broadcast.
    """
    return df.mapInArrow(_parse_batches, schema=PARSED_SCHEMA)
