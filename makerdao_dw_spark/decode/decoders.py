"""Event-log and function-calldata decoders + the Spark decode stage.

Row semantics mirror the reference pipeline (/root/reference/
eth-contract.py:92-123, functions.py:119-149) with one deliberate fix:
logs whose topics[0] is not in the dispatch index are DROPPED — the
reference's `except KeyError: pass` left the previous iteration's table
bound and mis-filed unknown logs into it (SURVEY.md §0 known bugs).

Spark shape: the decoders are plain-python (per ~100-byte payload, cheap)
and run as ONE Python pass over all target tables (`decode_tagged`): a
topic0 dispatch dict routes each log to its spec, and the pass emits one
tagged frame (common columns, a table tag, typed value slots) that the
sink splits per table with JVM-only filters. A Python task costs a fixed
~0.35 s of executor time (4-vCPU host) whatever its row count, so one
operator for N tables replaces N. The pass runs inside the window fetch's Python operator when the plan allows,
and otherwise behind a JVM-side topic0 filter.
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import Decimal

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..abi.schema import COMMON_FIELDS, TableSpec
from .abi_codec import decode_abi, decode_single

DECIMAL38_MAX = 10**38 - 1


def _hexbytes(h: str) -> bytes:
    return bytes.fromhex(h[2:] if h.startswith("0x") else h)


def decode_event(spec: TableSpec, topics: list[str], data_hex: str) -> list:
    """Ordered param values for an event log: indexed params come from
    topics[1..], the rest decode sequentially from data."""
    topic_iter = iter(topics[1:])
    data_types = [t for t, ix in zip(spec.param_types, spec.indexed) if not ix]
    data_vals = iter(decode_abi(data_types, _hexbytes(data_hex)))
    out = []
    for typ, ix in zip(spec.param_types, spec.indexed):
        if ix:
            out.append(decode_single(typ, _hexbytes(next(topic_iter))))
        else:
            out.append(next(data_vals))
    return out


def decode_calldata(spec: TableSpec, data_hex: str) -> list | None:
    """Progressive-offset calldata decode (reference functions.py:119-149):

    some providers prepend padding/topics to the payload, so retry the
    selector+args parse advancing 4 bytes (8 hex chars) at a time until it
    decodes or the buffer is exhausted (-> None = undecodable).
    Empty calldata ('0x') decodes to all-null params.
    """
    h = data_hex[2:] if data_hex.startswith("0x") else data_hex
    if h == "":
        return [None] * len(spec.param_types)
    sel = spec.signature[2:10]
    x = 0
    while x < len(h):
        if h[x : x + 8] == sel:
            try:
                return decode_abi(spec.param_types, bytes.fromhex(h[x + 8 :]))
            except ValueError:
                pass
        x += 8
    return None


def extract_methodid(data_hex: str) -> str | None:
    """First 4 bytes of calldata padded to dispatch-key width (the
    reference's proxy re-dispatch key, eth-contract.py:107-111)."""
    h = data_hex[2:] if data_hex.startswith("0x") else data_hex
    if len(h) < 8:
        return None
    return "0x" + h[:8] + "0" * 56


def redispatch_proxy_calls(raw_logs: DataFrame, proxy_spec: TableSpec) -> DataFrame:
    """Proxy re-dispatch stage (reference eth-contract.py:107-111): a
    DSProxy-style `execute(address target, bytes data)` call carries the
    REAL call inside its `bytes` arg. This stage decodes the wrapper and
    re-emits rows in raw-log shape with the embedded calldata as `data`
    and its padded selector as topics[0] — so the output feeds straight
    back into `decode_logs_for_table(out, target_spec)` for every target
    table, reusing the whole dispatch/decode machinery one level down.

    Wrappers whose payload does not decode, or whose embedded data has no
    selector, are dropped (not mis-filed — same policy as unknown topics).
    """
    matched = raw_logs.filter(F.element_at("topics", 1) == F.lit(proxy_spec.signature))
    bytes_positions = [i for i, t in enumerate(proxy_spec.param_types) if t == "bytes"]
    if not bytes_positions:
        raise ValueError(f"{proxy_spec.table} has no bytes param to re-dispatch")
    embed_at = bytes_positions[-1]
    out_schema = raw_logs.schema
    out_cols = list(out_schema.fieldNames())

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = out_cols
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                vals = decode_calldata(proxy_spec, r.data)
                if vals is None or vals[embed_at] is None:
                    continue
                inner = bytes(vals[embed_at]).hex()
                mid = extract_methodid("0x" + inner)
                if mid is None:
                    continue
                rows.append(
                    {
                        "address": r.address,
                        "topics": [mid],
                        "data": "0x" + inner,
                        "block_number": r.block_number,
                        "block_hash": r.block_hash,
                        "log_index": r.log_index,
                        "transaction_index": r.transaction_index,
                        "transaction_hash": r.transaction_hash,
                    }
                )
            yield pd.DataFrame(rows, columns=cols)

    return python_map(matched, batches, out_schema)


def _to_spark_value(typ: str, v):
    """Codec value -> Spark row value per SURVEY §1.3.

    uint256/int256 beyond decimal(38,0) -> None (overflow-to-null
    policy; callers needing the exact value keep the raw log row).
    """
    if v is None:
        return None
    if typ in ("uint256", "int256"):
        return Decimal(v) if -DECIMAL38_MAX <= v <= DECIMAL38_MAX else None
    if typ == "uint256[]":
        return [Decimal(x) if -DECIMAL38_MAX <= x <= DECIMAL38_MAX else None for x in v]
    if typ in ("uint16", "uint8"):
        return int(v)
    return v


def _strip0x(h: str) -> str:
    return h[2:] if h.startswith("0x") else h


def decode_row(spec: TableSpec, topics, data_hex: str) -> list | None:
    """One log's param values as Spark row values, or None when the log
    does not decode as `spec` (undecodable calldata, missing indexed
    topics, malformed payload): such a row is skipped, never mis-filed."""
    try:
        if spec.kind == "evt":
            vals = decode_event(spec, list(topics), data_hex)
        else:
            # calls arrive as logs whose topic0 is the padded selector
            vals = decode_calldata(spec, data_hex)
    except (ValueError, StopIteration):
        return None
    if vals is None:
        return None
    return [_to_spark_value(t, v) for t, v in zip(spec.param_types, vals)]


def python_map(upstream: DataFrame, fn, schema: StructType) -> DataFrame:
    """`upstream.mapInPandas(fn, schema)` that remembers its input and
    function, so that `decode_tagged` can run the decode in the same
    Python operator, after `fn`, instead of in a second one."""
    out = upstream.mapInPandas(fn, schema)
    out._python_source = (upstream, fn)
    return out


COMMON_COLUMNS = [f.name for f in COMMON_FIELDS]
RAW_COLUMNS = [*COMMON_COLUMNS, "topics", "data"]
TABLE_TAG = "_table"


class TaggedLayout:
    """Row layout of the one-pass decode over a list of specs: the six
    common columns, a table tag (the spec's index in the list) and typed
    value slots. A spec's params fill the slots of their Spark type in
    order, so each type has as many slots as the most that any ONE spec
    needs, not the sum over all tables."""

    def __init__(self, specs: list[TableSpec]):
        self.specs = list(specs)
        slot_fields: list[StructField] = []
        by_type: dict[str, list[str]] = {}
        self.slots: list[list[str]] = []  # per spec: slot column per param
        for spec in self.specs:
            used: dict[str, int] = {}
            names = []
            for f in spec.schema.fields[len(COMMON_FIELDS) :]:
                key = f.dataType.simpleString()
                k = used.get(key, 0)
                used[key] = k + 1
                of_type = by_type.setdefault(key, [])
                if k == len(of_type):
                    of_type.append(f"_s{len(slot_fields)}")
                    slot_fields.append(StructField(of_type[k], f.dataType))
                names.append(of_type[k])
            self.slots.append(names)
        self.schema = StructType([*COMMON_FIELDS, StructField(TABLE_TAG, IntegerType()), *slot_fields])
        self._positions = [[self.schema.fieldNames().index(n) for n in names] for names in self.slots]
        # topic0 -> spec indices (the reference's dict_sign); a log whose
        # topic0 no spec claims is dropped
        self.routes: dict[str, list[int]] = {}
        for i, spec in enumerate(self.specs):
            self.routes.setdefault(spec.signature, []).append(i)

    def decode(self, batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """Raw-log frames -> tagged frames, one pass over all specs."""
        cols = self.schema.fieldNames()
        width = len(cols)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                topics = r.topics
                if topics is None or len(topics) == 0:
                    continue
                for i in self.routes.get(topics[0], ()):
                    vals = decode_row(self.specs[i], topics, r.data)
                    if vals is None:
                        continue
                    row = [None] * width
                    row[:7] = (
                        r.block_number,
                        _strip0x(r.block_hash),
                        _strip0x(r.address).lower(),
                        r.log_index,
                        r.transaction_index,
                        _strip0x(r.transaction_hash),
                        i,
                    )
                    for pos, v in zip(self._positions[i], vals):
                        row[pos] = v
                    rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    def table(self, tagged: DataFrame, i: int, *extra) -> DataFrame:
        """Spec i's rows of the tagged frame in its table schema (JVM-only)."""
        spec = self.specs[i]
        params = [F.col(s).alias(n) for s, n in zip(self.slots[i], spec.param_names)]
        return tagged.filter(F.col(TABLE_TAG) == i).select(*COMMON_COLUMNS, *params, *extra)


def decode_tagged(raw_logs: DataFrame, specs: list[TableSpec]) -> tuple[TaggedLayout, DataFrame]:
    """Topic0 dispatch + decode of every spec in ONE Python operator.

    When `raw_logs` is an uncached `python_map` output (the window fetch,
    or the proxy path's receipt filter), the decode runs inside that
    operator's Python worker, right after its function. Otherwise a
    JVM-side topic0 filter narrows the logs before they cross into Python.

    raw_logs schema (FIXTURES.md B9): address string, topics array<string>,
    data string, block_number bigint, block_hash string, log_index int,
    transaction_index int, transaction_hash string.
    """
    layout = TaggedLayout(specs)
    source = getattr(raw_logs, "_python_source", None)
    if source is not None and raw_logs.storageLevel == StorageLevel.NONE:
        upstream, first = source
        return layout, upstream.mapInPandas(lambda it: layout.decode(first(it)), layout.schema)
    matched = raw_logs.filter(F.try_element_at("topics", F.lit(1)).isin(list(layout.routes)))
    return layout, matched.select(*RAW_COLUMNS).mapInPandas(layout.decode, layout.schema)


def decode_logs_for_table(raw_logs: DataFrame, spec: TableSpec) -> DataFrame:
    """One table's decoded rows, typed as `spec.schema`: the one-pass
    decode over a single spec."""
    layout, tagged = decode_tagged(raw_logs, [spec])
    return layout.table(tagged, 0)
