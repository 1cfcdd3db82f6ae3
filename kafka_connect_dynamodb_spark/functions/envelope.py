"""DynamoDB AttributeValue envelope codec — the RecordConverter analog.

The reference serializes every item as a DynamoDB-JSON string with lowercase
type tags (``{"repo":{"s":"r1"},"n_field":{"n":"42"}}``) via Jackson
(reference: utils/RecordConverter.java:30-34,104; sample docs/data.md:16) and
emits a fixed Debezium-style value envelope ``(version, document, source, op,
ts_ms)`` (reference: utils/RecordConverter.java:50-57).

Spark-first design:

* **Fast path (JVM, codegen'd)** — when the payload schema is known (our
  source-code table ``repo/path/commit/lang/content`` per BASELINE.json
  input_hint), decode with ``from_json`` against a tagged-struct schema and
  project the ``.s`` fields. Zero Python in the hot loop; whole-stage codegen
  applies; Catalyst prunes unreferenced attributes from the parse.
* **General path (Arrow-vectorized pandas UDF)** — for arbitrary envelopes
  (nested ``m``/``l``/``ss``/``ns``/``bool``/``null`` as in docs/data.md:16),
  a pandas UDF walks the tagged union per Arrow batch. This is the
  compatibility path only; never used on the hot replay path.
"""

from __future__ import annotations

import json
from typing import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fixed source-code payload per BASELINE.json input_hint.
PAYLOAD_FIELDS: tuple[str, ...] = ("repo", "path", "commit", "lang", "content")
KEY_FIELDS: tuple[str, ...] = ("repo", "path")

ENVELOPE_VERSION = "1.0"  # reference: SourceInfo.java version field


def tagged_schema(fields: Iterable[str]) -> T.StructType:
    """Schema of a DynamoDB-JSON envelope carrying string (``s``) attributes.

    Key attributes in the reference support only ``S`` and ``N``
    (RecordConverter.java:92-99) and ``N`` keys are stringified
    (RecordConverter.java:118-126) — so string-typed is faithful.
    """
    tag = T.StructType([T.StructField("s", T.StringType(), True),
                        T.StructField("n", T.StringType(), True)])
    return T.StructType([T.StructField(f, tag, True) for f in fields])


def encode_attr_json(fields: Iterable[str]) -> Column:
    """Build a DynamoDB-JSON envelope string from typed columns.

    Every column becomes an ``{"s": "<str>"}`` attribute, cast to string
    (numbers stringified, as the reference does for N keys; the decoder's
    :func:`attr_value` reads ``s`` first). NON_NULL inclusion mirrors
    Jackson's ``Include.NON_NULL`` (RecordConverter.java:30-34) — ``to_json``
    drops null struct fields by default only at the top level, so we rely on
    struct-of-struct nulls being omitted via ``ignoreNullFields``.
    """
    inner = [F.struct(F.col(f).cast("string").alias("s")).alias(f) for f in fields]
    return F.to_json(F.struct(*inner), {"ignoreNullFields": "true"})


def attr_value(tag: Column) -> Column:
    """The value of one AttributeValue tag struct, key or image alike: its
    ``s``, else its ``n`` (N-typed attributes arrive stringified, like the
    reference's key handling, RecordConverter.java:118-126); null for any
    other type. The one place this rule is written."""
    return F.coalesce(tag["s"], tag["n"])


def parse_keys(keys: Column, fields: Iterable[str] = KEY_FIELDS) -> Column:
    """The keys envelope parsed to one tag struct per key attribute; read
    each key with :func:`attr_value`. A null key value means the event's
    keys do not parse: the apply path drops it (F5) and the DLQ files it
    under ``unparseable_keys``. Give the parse a projection of its own
    before reading several keys from it: inlined into each key's
    expression, the optimizer splits it into one JSON parse per key. A
    filter pushed below that projection inlines it again, so a parse that
    a filter reads sits behind a generator (``classify_rejects``)."""
    return F.from_json(keys, tagged_schema(fields))


def decode_payload(df: DataFrame, col: str = "new_image",
                   fields: Iterable[str] = PAYLOAD_FIELDS,
                   prefix: str = "") -> DataFrame:
    """Fast-path decode: tagged JSON envelope -> typed columns (JVM-side).

    Equivalent of RecordConverter.toSourceRecord's item->document mapping
    (utils/RecordConverter.java:60-116) but columnar: one ``from_json`` over
    the whole column, then every field projected in one ``select`` (a
    decoded field replaces a column of its name in place).
    """
    fields = tuple(fields)
    out = df.withColumn("_parsed", F.from_json(F.col(col), tagged_schema(fields)))
    new = {prefix + f: attr_value(F.col("_parsed")[f]) for f in fields}
    cols = [new.pop(c).alias(c) if c in new else F.col(c) for c in df.columns]
    return out.select(*cols, *[v.alias(c) for c, v in new.items()])


def encode_envelope(df: DataFrame, *, table_name: str, op_col: str = "op",
                    ts_col: str = "ts", source_struct: Column | None = None) -> DataFrame:
    """Attach the fixed 5-field value envelope (RecordConverter.java:50-57).

    Columns: version, document (DynamoDB-JSON string), source, op, ts_ms.
    """
    doc = encode_attr_json(PAYLOAD_FIELDS)
    src = source_struct if source_struct is not None else F.struct(
        F.lit(ENVELOPE_VERSION).alias("version"),
        F.lit(table_name).alias("table_name"),
    )
    return (df.withColumn("version", F.lit(ENVELOPE_VERSION))
              .withColumn("document", doc)
              .withColumn("source", src)
              .withColumn("op", F.col(op_col))
              .withColumn("ts_ms", F.unix_millis(F.col(ts_col))))


# ---------------------------------------------------------------------------
# General path: arbitrary AttributeValue trees, Arrow-vectorized.
# ---------------------------------------------------------------------------

def _attr_to_plain(node):
    """One AttributeValue tagged union -> plain python value.

    Tag set from docs/data.md:16 / RecordConverterTests.java:202 (lowercase
    Jackson field names): s, n, bool, null, m, l, ss, ns, b/bs unsupported
    exactly like the reference (no binary handling anywhere in it).
    """
    if not isinstance(node, dict):
        return node
    if "s" in node and node["s"] is not None:
        return node["s"]
    if "n" in node and node["n"] is not None:
        return node["n"]  # stringified numbers, like the reference
    if node.get("bool") is not None:
        return node["bool"]
    if node.get("null"):
        return None
    if node.get("m") is not None:
        return {k: _attr_to_plain(v) for k, v in node["m"].items()}
    if node.get("l") is not None:
        return [_attr_to_plain(v) for v in node["l"]]
    if node.get("ss") is not None:
        return list(node["ss"])
    if node.get("ns") is not None:
        return list(node["ns"])
    return None


@F.pandas_udf(T.StringType())
def attr_envelope_to_plain_json(s: pd.Series) -> pd.Series:
    """Arrow-batched general decoder: DynamoDB-JSON -> plain JSON string.

    Compatibility path for envelopes with nested m/l/ss/ns/bool/null types
    that the fixed-schema fast path does not cover. Vectorized per Arrow
    batch (input_hint: no per-row Python UDFs; this is the sanctioned
    pandas/Arrow form).
    """
    def conv(x):
        if x is None:
            return None
        return json.dumps({k: _attr_to_plain(v) for k, v in json.loads(x).items()},
                          separators=(",", ":"), sort_keys=True)
    return s.map(conv)
