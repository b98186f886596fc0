"""Writer for the reference engine's native table files — the inverse
of sources/javaser.py, so a dataset produced HERE can be migrated back
and scanned by the reference engine verbatim.

The reference persists `<T>.md` as one Java-serialized `qp.utils.Schema`
and `<T>.tbl` as a stream of `qp.utils.Tuple` objects, written by
java.io.ObjectOutputStream (src/RandomDB.java:112-115 writes the .md,
src/ConvertTxtToTbl.java:30,68-71 the .tbl; src/qp/operators/Scan.java:49,69
reads them back). This module emits the JDK Object Serialization
Stream Protocol (public spec, magic 0xACED v5) BYTE-IDENTICALLY to
what the reference's own tools produce for the same logical content —
tests/test_javaser.py proves `bytes(ours) == bytes(theirs)` against
the javac'd reference, which is a strictly stronger read-back
guarantee than a parse test.

Byte-identity requires emulating ObjectOutputStream's identity-based
back-references exactly:

* class descriptors are written once, then TC_REFERENCE;
* field-signature strings ("Ljava/lang/String;") are interned in the
  JVM → deduped by value here;
* `Integer.valueOf` caches -128..127 → equal small ints in one stream
  are the SAME object and serialize as back-references; floats and
  tokenizer-produced strings are fresh objects → written in full;
* the .md's per-attribute `tblname` is one shared String object →
  first occurrence full, rest references.

serialVersionUIDs: the qp.utils.* values are structural UIDs captured
from reference-produced streams (tests/fixtures/CART.md/.tbl — stable
across recompiles, the round-trip test would catch drift); the
java.lang/java.util values are the constants published in the JDK's
"Serialized Form" javadoc.

Scale path: one Java-ser stream is inherently single-writer (like the
read side, it is not splittable), so the distributed export shards
per partition — `write_tbl_shards` encodes each partition executor-
side into its own `<table>-pNNNNN.tbl`, readable back in parallel by
javaser.read_tbl_dataset; `write_table` streams a SINGLE `.tbl`
through the driver (bounded memory via toLocalIterator) for handing a
table to the reference engine itself, which is a single-node consumer
anyway.
"""

from __future__ import annotations

import struct
from typing import Iterable, Sequence

from database_query_processor_spark.sources.javaser import (
    ATTR_INT,
    ATTR_REAL,
    ATTR_STRING,
    MAGIC,
    SC_SERIALIZABLE,
    SC_WRITE_METHOD,
    TC_BLOCKDATA,
    TC_CLASSDESC,
    TC_ENDBLOCKDATA,
    TC_LONGSTRING,
    TC_OBJECT,
    TC_REFERENCE,
    TC_STRING,
    BASE_HANDLE,
    VERSION,
)

# (name, serialVersionUID, flags, fields, super) — fields are
# (typecode, name, signature-or-None) in the canonical reflected order
# ObjectStreamClass uses (primitives sorted by name, then objects).
_NUMBER = ("java.lang.Number", -8742448824652078965, SC_SERIALIZABLE, [], None)
_DESCS = {
    "schema": ("qp.utils.Schema", 2779193728130899404, SC_SERIALIZABLE,
               [("I", "tupleSize", None), ("L", "attset", "Ljava/util/ArrayList;")],
               None),
    "attribute": ("qp.utils.Attribute", -8217705756579532816, SC_SERIALIZABLE,
                  [("I", "aggtype", None), ("I", "attrsize", None),
                   ("I", "key", None), ("I", "type", None),
                   ("L", "colname", "Ljava/lang/String;"),
                   ("L", "tblname", "Ljava/lang/String;")],
                  None),
    "tuple": ("qp.utils.Tuple", 7403003568579746697, SC_SERIALIZABLE,
              [("L", "_data", "Ljava/util/ArrayList;")], None),
    "arraylist": ("java.util.ArrayList", 8683452581122892189,
                  SC_SERIALIZABLE | SC_WRITE_METHOD, [("I", "size", None)], None),
    "integer": ("java.lang.Integer", 1360826667806852920, SC_SERIALIZABLE,
                [("I", "value", None)], _NUMBER),
    "float": ("java.lang.Float", -2671257302660747028, SC_SERIALIZABLE,
              [("F", "value", None)], _NUMBER),
}


def _encode_modified_utf8(s: str) -> bytes:
    """Java DataOutput.writeUTF payload: NUL as C0 80, astral chars as
    CESU-8 surrogate pairs (the exact inverse of the reader's
    _decode_modified_utf8)."""
    out = bytearray()
    units = s.encode("utf-16-be", "surrogatepass")
    for i in range(0, len(units), 2):
        u = (units[i] << 8) | units[i + 1]
        if 1 <= u <= 0x7F:
            out.append(u)
        elif u <= 0x7FF:  # includes NUL -> C0 80
            out.append(0xC0 | (u >> 6))
            out.append(0x80 | (u & 0x3F))
        else:
            out.append(0xE0 | (u >> 12))
            out.append(0x80 | ((u >> 6) & 0x3F))
            out.append(0x80 | (u & 0x3F))
    return bytes(out)


class JavaSerWriter:
    """One serialization stream (one file). Mirrors the handle
    assignment order of ObjectOutputStream so TC_REFERENCE indexes
    match what a JVM reader expects."""

    def __init__(self) -> None:
        self.out = bytearray(struct.pack(">HH", MAGIC, VERSION))
        self._n_handles = 0
        self._desc_handles: dict[str, int] = {}     # class name -> handle
        self._sig_handles: dict[str, int] = {}      # interned signature str
        self._int_cache: dict[int, int] = {}        # Integer.valueOf cache
        self._shared_str: dict[int, int] = {}       # id(str) -> handle

    def getvalue(self) -> bytes:
        return bytes(self.out)

    def drain(self) -> bytes:
        """Return the bytes buffered so far and CLEAR the buffer,
        keeping all handle/dedup state (the emitted prefix is never
        re-read — back-references are by handle index). Lets callers
        stream a large table to disk in bounded memory instead of
        holding the whole serialized stream (the first drain includes
        the magic header)."""
        b = bytes(self.out)
        self.out = bytearray()
        return b

    # --- low level ---
    def _new_handle(self) -> int:
        h = self._n_handles
        self._n_handles += 1
        return h

    def _ref(self, handle: int) -> None:
        self.out += struct.pack(">Bi", TC_REFERENCE, BASE_HANDLE + handle)

    def _utf(self, s: str) -> None:
        b = _encode_modified_utf8(s)
        self.out += struct.pack(">H", len(b)) + b

    def _string_body(self, s: str) -> None:
        """TC_STRING / TC_LONGSTRING per ObjectOutputStream.writeString:
        the JVM switches to the 8-byte-length form when the modified-
        UTF-8 payload exceeds 0xFFFF — a >=64 KiB document must not
        crash the 2-byte length pack (and would not be byte-identical
        otherwise)."""
        b = _encode_modified_utf8(s)
        if len(b) > 0xFFFF:
            self.out.append(TC_LONGSTRING)
            self.out += struct.pack(">Q", len(b)) + b
        else:
            self.out.append(TC_STRING)
            self.out += struct.pack(">H", len(b)) + b

    def _string(self, s: str, interned: dict[str, int] | None = None) -> None:
        """String object with optional value-keyed dedup (JVM-interned
        strings: field signatures)."""
        if interned is not None and s in interned:
            self._ref(interned[s])
            return
        self._string_body(s)
        h = self._new_handle()
        if interned is not None:
            interned[s] = h

    # --- class descriptors ---
    def _classdesc(self, desc) -> None:
        name, uid, flags, fields, sup = desc
        if name in self._desc_handles:
            self._ref(self._desc_handles[name])
            return
        self.out.append(TC_CLASSDESC)
        self._utf(name)
        self.out += struct.pack(">q", uid)
        self._desc_handles[name] = self._new_handle()
        self.out.append(flags)
        self.out += struct.pack(">H", len(fields))
        for typecode, fname, sig in fields:
            self.out.append(ord(typecode))
            self._utf(fname)
            if typecode in "L[":
                self._string(sig, interned=self._sig_handles)
        self.out.append(TC_ENDBLOCKDATA)  # no class annotation
        if sup is None:
            self.out.append(0x70)  # TC_NULL superclass
        else:
            self._classdesc(sup)

    # --- objects ---
    def write_int_obj(self, v: int) -> None:
        """java.lang.Integer via Integer.valueOf semantics: values in
        [-128, 127] are cached singletons → back-references."""
        if -128 <= v <= 127 and v in self._int_cache:
            self._ref(self._int_cache[v])
            return
        self.out.append(TC_OBJECT)
        self._classdesc(_DESCS["integer"])
        h = self._new_handle()
        if -128 <= v <= 127:
            self._int_cache[v] = h
        # classdata: superclass (Number: no fields) first, then Integer.value
        self.out += struct.pack(">i", v)

    def write_float_obj(self, v: float) -> None:
        self.out.append(TC_OBJECT)
        self._classdesc(_DESCS["float"])
        self._new_handle()
        self.out += struct.pack(">f", v)

    def write_data_string(self, s: str, shared: bool = False) -> None:
        """Data strings are fresh objects in the reference's writers
        (tokenizer output) → no dedup; `shared=True` marks a string the
        Java side holds as ONE object across writes (the .md's tblname)
        → identity-style back-reference."""
        if shared and id(s) in self._shared_str:
            self._ref(self._shared_str[id(s)])
            return
        self._string_body(s)
        h = self._new_handle()
        if shared:
            self._shared_str[id(s)] = h

    def _arraylist_header(self, size: int) -> None:
        """TC_OBJECT ArrayList up to (and including) the custom-data
        capacity block; caller then writes `size` elements and calls
        _arraylist_footer."""
        self.out.append(TC_OBJECT)
        self._classdesc(_DESCS["arraylist"])
        self._new_handle()
        self.out += struct.pack(">i", size)                      # field: size
        self.out += struct.pack(">BBi", TC_BLOCKDATA, 4, size)   # capacity
    def _arraylist_footer(self) -> None:
        self.out.append(TC_ENDBLOCKDATA)

    def write_tuple(self, values: Sequence, types: Sequence[int]) -> None:
        """qp.utils.Tuple { _data: ArrayList } — one row."""
        self.out.append(TC_OBJECT)
        self._classdesc(_DESCS["tuple"])
        self._new_handle()
        self._arraylist_header(len(values))
        for v, t in zip(values, types):
            if t == ATTR_INT:
                self.write_int_obj(int(v))
            elif t == ATTR_REAL:
                self.write_float_obj(float(v))
            elif t == ATTR_STRING:
                self.write_data_string(str(v))
            else:
                raise ValueError(f"unsupported reference type code {t}")
        self._arraylist_footer()

    def write_schema(
        self, tblname: str, cols: Sequence[tuple[str, int, int]], tuple_size: int
    ) -> None:
        """qp.utils.Schema { tupleSize, attset: ArrayList<Attribute> }.
        cols = (colname, type_code, attrsize). Every attribute carries
        aggtype=0 and key=-1 — RandomDB.java:102-106 passes keytype to
        the Attribute constructor ONLY for NK columns (and passes -1),
        so PK/FK also end at the default -1; replicated for parity."""
        self.out.append(TC_OBJECT)
        self._classdesc(_DESCS["schema"])
        self._new_handle()
        self.out += struct.pack(">i", tuple_size)  # field: tupleSize
        self._arraylist_header(len(cols))
        for colname, type_code, attrsize in cols:
            self.out.append(TC_OBJECT)
            self._classdesc(_DESCS["attribute"])
            self._new_handle()
            # primitives in descriptor order: aggtype, attrsize, key, type
            self.out += struct.pack(">iiii", 0, attrsize, -1, type_code)
            self.write_data_string(colname)
            self.write_data_string(tblname, shared=True)
        self._arraylist_footer()


_SPARK_TO_REF = {"int": ATTR_INT, "string": ATTR_STRING, "float": ATTR_REAL}
_REF_SIZES = {ATTR_INT: 4, ATTR_REAL: 4}


def _ref_cols(df, table: str, attr_sizes=None) -> list[tuple[str, int, int]]:
    """Map a DataFrame schema onto reference attributes. Only the
    reference's three types exist in its data model (Attribute.java:
    11-13); reject anything else loudly instead of corrupting a
    migration. STRING attrsize defaults to 2 bytes/char like the
    reference's .det convention unless given."""
    cols = []
    for f in df.schema.fields:
        t = _SPARK_TO_REF.get(f.dataType.simpleString())
        if t is None:
            raise ValueError(
                f"column {f.name!r}: {f.dataType.simpleString()} has no "
                "reference-native type (INT/STRING/REAL only) — cast first"
            )
        size = (attr_sizes or {}).get(f.name) or _REF_SIZES.get(t, 16)
        cols.append((f.name, t, size))
    return cols


def schema_bytes(df, table: str, attr_sizes=None) -> bytes:
    cols = _ref_cols(df, table, attr_sizes)
    w = JavaSerWriter()
    w.write_schema(table, cols, sum(s for _, _, s in cols))
    return w.getvalue()


def tuples_bytes(rows: Iterable[Sequence], types: Sequence[int]) -> bytes:
    w = JavaSerWriter()
    for row in rows:
        w.write_tuple(row, types)
    return w.getvalue()


def write_table(
    df, out_prefix: str, table: str | None = None, attr_sizes=None, stats: bool = True
) -> None:
    """Single-file export for the reference engine itself: `<prefix>.md`
    + `<prefix>.tbl` (+ `<prefix>.stat` — the reference's optimizer
    REQUIRES it: PlanCost.java:239-288 reads line 1 = tuple count,
    line 2 = per-attribute distinct counts, and System.exits without
    it, so an export omitting stats is unqueryable). Rows stream
    through the driver partition by partition (toLocalIterator +
    drain — bounded driver memory; the consumer is a single-node
    engine, so a single stream is the point). Stats are one extra
    distributed aggregate, `stats.table_stats` (exact count + HLL
    distinct per column: costing stats, where approximation is what
    every optimizer uses), in the layout `stats.parse_stat` reads."""
    import os

    from database_query_processor_spark.sources.stats import table_stats

    table = table or os.path.basename(out_prefix)
    cols = _ref_cols(df, table, attr_sizes)
    types = [t for _, t, _ in cols]
    with open(out_prefix + ".md", "wb") as fh:
        fh.write(schema_bytes(df, table, attr_sizes))
    if stats:
        with open(out_prefix + ".stat", "w") as fh:
            fh.write(table_stats(df).to_stat_text() + "\n")
    w = JavaSerWriter()
    with open(out_prefix + ".tbl", "wb") as fh:
        for i, row in enumerate(df.toLocalIterator()):
            w.write_tuple([row[c] for c, _, _ in cols], types)
            if i % 1000 == 999:  # bounded memory: flush, keep handle state
                fh.write(w.drain())
        fh.write(w.drain())


def write_tbl_shards(df, out_dir: str, table: str, attr_sizes=None) -> int:
    """Distributed export: `<out_dir>/<table>.md` once, plus one
    `<table>-pNNNNN.tbl` Java-ser stream PER PARTITION, encoded
    executor-side (mapInPandas over Arrow batches; the only driver
    work is the .md and the count). Read back in parallel with
    javaser.read_tbl_dataset(md, '<out_dir>/<table>-p*.tbl'). Returns
    the number of shards written."""
    import glob
    import os

    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    # A re-export into the same directory with FEWER partitions would
    # otherwise leave stale <table>-pNNNNN.tbl shards from the prior
    # run, and the read-back glob would silently mix them into the
    # dataset — clear this table's shards (and dead staging files)
    # before writing, like a mode("overwrite") parquet write does.
    for stale in glob.glob(os.path.join(out_dir, f"{table}-p*.tbl")) + glob.glob(
        os.path.join(out_dir, f".staging-{table}-*")
    ):
        os.unlink(stale)
    cols = _ref_cols(df, table, attr_sizes)
    types = [t for _, t, _ in cols]
    names = [c for c, _, _ in cols]
    with open(os.path.join(out_dir, table + ".md"), "wb") as fh:
        fh.write(schema_bytes(df, table, attr_sizes))

    def encode(batches):
        import tempfile

        from pyspark import TaskContext

        w = JavaSerWriter()
        wrote = False
        # stage into a temp file, publish by rename only on success —
        # bounded executor memory (drain per Arrow batch) and a failed
        # or retried task never leaves a half-written shard behind
        fh = tempfile.NamedTemporaryFile(
            dir=out_dir, prefix=f".staging-{table}-", delete=False
        )
        try:
            for pdf in batches:
                for row in pdf[names].itertuples(index=False):
                    w.write_tuple(list(row), types)
                    wrote = True
                fh.write(w.drain())
            fh.close()
            if wrote:  # empty partitions produce no shard, not an empty stream
                pid = TaskContext.get().partitionId()
                os.replace(fh.name, os.path.join(out_dir, f"{table}-p{pid:05d}.tbl"))
            else:
                os.unlink(fh.name)
        except BaseException:
            fh.close()
            os.unlink(fh.name)
            raise
        yield pd.DataFrame({"wrote": [1 if wrote else 0]})

    shards = df.mapInPandas(encode, schema="wrote int")
    return int(shards.agg({"wrote": "sum"}).collect()[0][0])
