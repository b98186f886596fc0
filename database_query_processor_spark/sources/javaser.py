"""Direct reader for the reference engine's native table files.

The reference persists tables as Java Object Serialization streams:
`<T>.md` holds one serialized `qp.utils.Schema` (RandomDB.java:27,114)
and `<T>.tbl` holds a stream of `qp.utils.Tuple` objects
(ConvertTxtToTbl.java:30,69; read back by Scan.java:49,69). Those
files were previously unreadable from Python, forcing regeneration
from `.det` specs. This module decodes the serialization protocol
(JDK "Object Serialization Stream Protocol", magic 0xACED) for exactly
the vocabulary those streams use — Schema / Attribute / Tuple /
ArrayList / Integer / Float / String — so a reference-produced dataset
can be loaded verbatim.

Scale path: a Java-ser stream is not splittable (like gzip JSON), so
parallelism is per FILE: `read_tbl_dataset` lists `<dir>/*.tbl` with
the binaryFile source and each task decodes whole files via an
Arrow-batched mapInPandas — 10k table shards = 10k parallel tasks,
no driver-side decode.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass
from urllib.parse import urlsplit

# stream constants (Java Object Serialization Stream Protocol)
MAGIC = 0xACED
VERSION = 5
TC_NULL = 0x70
TC_REFERENCE = 0x71
TC_CLASSDESC = 0x72
TC_OBJECT = 0x73
TC_STRING = 0x74
TC_ARRAY = 0x75
TC_BLOCKDATA = 0x77
TC_ENDBLOCKDATA = 0x78
TC_BLOCKDATALONG = 0x7A
TC_LONGSTRING = 0x7C
BASE_HANDLE = 0x7E0000
SC_WRITE_METHOD = 0x01
SC_SERIALIZABLE = 0x02

# reference type codes (src/qp/utils/Attribute.java:11-13)
ATTR_INT, ATTR_STRING, ATTR_REAL = 1, 2, 3


def _decode_modified_utf8(b: bytes) -> str:
    """Decode Java *modified* UTF-8 (DataInput.readUTF wire format):
    NUL is two bytes (0xC0 0x80) and supplementary characters are
    CESU-8 — each UTF-16 surrogate encoded as its own 3-byte unit —
    neither of which strict standard UTF-8 accepts. ASCII/BMP text is
    byte-identical to UTF-8, so try the fast strict path first."""
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        pass
    units: list[int] = []  # UTF-16 code units
    i, n = 0, len(b)
    while i < n:
        c = b[i]
        if c < 0x80:
            units.append(c)
            i += 1
        elif c >> 5 == 0b110:
            if i + 1 >= n:
                raise ValueError("truncated modified-UTF-8 2-byte unit")
            units.append(((c & 0x1F) << 6) | (b[i + 1] & 0x3F))
            i += 2
        elif c >> 4 == 0b1110:
            if i + 2 >= n:
                raise ValueError("truncated modified-UTF-8 3-byte unit")
            units.append(((c & 0x0F) << 12) | ((b[i + 1] & 0x3F) << 6) | (b[i + 2] & 0x3F))
            i += 3
        else:
            raise ValueError(f"malformed modified-UTF-8 lead byte 0x{c:02x} at {i}")
    # pair up CESU-8 surrogates into astral characters
    return (
        "".join(map(chr, units))
        .encode("utf-16-le", "surrogatepass")
        .decode("utf-16-le", "surrogatepass")
    )


@dataclass
class _ClassDesc:
    name: str
    flags: int
    fields: list[tuple[str, str]]  # (typecode, field name)
    super_desc: "_ClassDesc | None"

    def hierarchy(self) -> list["_ClassDesc"]:
        chain = []
        d = self
        while d is not None:
            chain.append(d)
            d = d.super_desc
        return list(reversed(chain))  # superclass data first


class _JavaObj:
    """Mutable placeholder so the handle table can be populated before
    the object's own field data is read (the protocol assigns the
    handle first)."""

    __slots__ = ("cls", "fields", "value", "resolved")

    def __init__(self, cls: str):
        self.cls = cls
        self.fields: dict[str, object] = {}
        self.value: object = None
        self.resolved = False


def _resolve(x):
    if isinstance(x, _JavaObj):
        return x.value if x.resolved else x.fields
    return x


class JavaSerReader:
    """Decoder for one serialization stream (one file's bytes)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.handles: list[object] = []
        if self._u2() != MAGIC or self._u2() != VERSION:
            raise ValueError("not a Java serialization stream")

    # --- primitives ---
    def _raw(self, n: int) -> bytes:
        b = self.data[self.pos : self.pos + n]
        if len(b) < n:
            raise EOFError
        self.pos += n
        return b

    def _u1(self) -> int:
        return self._raw(1)[0]

    def _u2(self) -> int:
        return struct.unpack(">H", self._raw(2))[0]

    def _i4(self) -> int:
        return struct.unpack(">i", self._raw(4))[0]

    def _utf(self) -> str:
        return _decode_modified_utf8(self._raw(self._u2()))

    def _utf_long(self) -> str:
        # TC_LONGSTRING payload: 8-byte big-endian length (strings >= 64 KiB,
        # ObjectOutputStream.writeLongUTF)
        n = struct.unpack(">Q", self._raw(8))[0]
        return _decode_modified_utf8(self._raw(n))

    def _prim(self, typecode: str):
        if typecode == "I":
            return self._i4()
        if typecode == "F":
            return struct.unpack(">f", self._raw(4))[0]
        if typecode == "D":
            return struct.unpack(">d", self._raw(8))[0]
        if typecode == "J":
            return struct.unpack(">q", self._raw(8))[0]
        if typecode == "S":
            return struct.unpack(">h", self._raw(2))[0]
        if typecode == "B":
            return struct.unpack(">b", self._raw(1))[0]
        if typecode == "Z":
            return bool(self._u1())
        if typecode == "C":
            return chr(self._u2())
        raise ValueError(f"unhandled primitive type {typecode!r}")

    # --- stream grammar ---
    def at_eof(self) -> bool:
        return self.pos >= len(self.data)

    def read_content(self):
        tc = self._u1()
        if tc == TC_NULL:
            return None
        if tc == TC_REFERENCE:
            return _resolve(self.handles[self._i4() - BASE_HANDLE])
        if tc == TC_STRING:
            s = self._utf()
            self.handles.append(s)
            return s
        if tc == TC_LONGSTRING:
            s = self._utf_long()
            self.handles.append(s)
            return s
        if tc == TC_OBJECT:
            return self._read_object()
        if tc == TC_CLASSDESC:
            return self._read_new_classdesc()
        raise ValueError(f"unhandled tag 0x{tc:02x} at {self.pos - 1}")

    def _read_classdesc(self) -> "_ClassDesc | None":
        tc = self._u1()
        if tc == TC_NULL:
            return None
        if tc == TC_REFERENCE:
            d = self.handles[self._i4() - BASE_HANDLE]
            assert isinstance(d, _ClassDesc)
            return d
        if tc == TC_CLASSDESC:
            return self._read_new_classdesc()
        raise ValueError(f"bad classDesc tag 0x{tc:02x}")

    def _read_new_classdesc(self) -> _ClassDesc:
        name = self._utf()
        self._raw(8)  # serialVersionUID — unused, identity is the name
        desc = _ClassDesc(name, 0, [], None)
        self.handles.append(desc)
        desc.flags = self._u1()
        nfields = self._u2()
        for _ in range(nfields):
            typecode = chr(self._u1())
            fname = self._utf()
            if typecode in "L[":
                self.read_content()  # field's class-name string (registers handle)
            desc.fields.append((typecode, fname))
        tc = self._u1()  # class annotation: none in these streams
        if tc != TC_ENDBLOCKDATA:
            raise ValueError("unexpected class annotation")
        desc.super_desc = self._read_classdesc()
        return desc

    def _read_object(self):
        desc = self._read_classdesc()
        obj = _JavaObj(desc.name)
        self.handles.append(obj)
        for d in desc.hierarchy():
            for typecode, fname in d.fields:
                if typecode in "L[":
                    obj.fields[fname] = self.read_content()
                else:
                    obj.fields[fname] = self._prim(typecode)
            if d.flags & SC_WRITE_METHOD:
                self._read_custom(d, obj)
        return self._finalize(obj)

    def _read_custom(self, desc: _ClassDesc, obj: _JavaObj) -> None:
        """Class-specific writeObject payload. Only ArrayList appears
        in the reference's streams (Schema.attset, Tuple._data):
        blockdata(capacity int) + size elements + endBlockData
        (java.util.ArrayList#writeObject serial form)."""
        if desc.name != "java.util.ArrayList":
            raise ValueError(f"no custom-data reader for {desc.name}")
        elems = []
        size = obj.fields["size"]
        while True:
            tc = self._u1()
            if tc == TC_ENDBLOCKDATA:
                break
            if tc == TC_BLOCKDATA:
                self._raw(self._u1())  # capacity hint — irrelevant
            elif tc == TC_BLOCKDATALONG:
                self._raw(self._i4())
            else:
                self.pos -= 1
                elems.append(self.read_content())
        if len(elems) != size:
            raise ValueError(f"ArrayList size {size} != {len(elems)} elements")
        obj.fields["elements"] = elems

    def _finalize(self, obj: _JavaObj):
        """Map known classes to plain Python values."""
        c, f = obj.cls, obj.fields
        if c == "java.util.ArrayList":
            obj.value = f["elements"]
        elif c in ("java.lang.Integer", "java.lang.Long", "java.lang.Short"):
            obj.value = f["value"]
        elif c in ("java.lang.Float", "java.lang.Double"):
            obj.value = f["value"]
        elif c == "java.lang.String":
            obj.value = f["value"]
        elif c == "qp.utils.Tuple":
            obj.value = [_resolve(x) for x in f["_data"]]
        elif c == "qp.utils.Attribute":
            obj.value = {
                "tblname": _resolve(f.get("tblname")),
                "colname": _resolve(f.get("colname")),
                "type": f.get("type"),
                "attrsize": f.get("attrsize"),
                "key": f.get("key"),
            }
        elif c == "qp.utils.Schema":
            obj.value = {
                "attset": [_resolve(a) for a in _resolve(f["attset"])],
                "tupleSize": f.get("tupleSize"),
            }
        elif c == "qp.utils.Batch":
            obj.value = [_resolve(t) for t in _resolve(f["tuples"])]
        else:
            raise ValueError(f"unhandled class {c}")
        obj.resolved = True
        return obj.value


def read_schema(md_bytes: bytes) -> list[tuple[str, int]]:
    """`<T>.md` → [(column name, reference type code), ...]."""
    schema = JavaSerReader(md_bytes).read_content()
    return [(a["colname"], a["type"]) for a in schema["attset"]]


def read_tuples(tbl_bytes: bytes) -> list[list]:
    """`<T>.tbl` → row lists. Handles both serial forms the reference
    writes: bare Tuple streams (ConvertTxtToTbl/Scan) and Batch
    streams (TupleWriter/materialized join sides)."""
    r = JavaSerReader(tbl_bytes)
    rows: list[list] = []
    while not r.at_eof():
        v = r.read_content()
        if isinstance(v, list) and (not v or isinstance(v[0], list)):
            # a Batch: list of tuples. An EMPTY batch (TupleWriter's
            # close-time flush) contributes no rows — the old
            # `if v and ...` truthiness check misread it as a bare
            # 0-column Tuple row and crashed the DataFrame build.
            rows.extend(v)
        elif isinstance(v, list):
            rows.append(v)  # a bare Tuple row
        else:
            raise ValueError(
                f"unexpected serialized content in .tbl stream: {type(v).__name__}"
            )
    return rows


def _spark_type(ref_type: int) -> str:
    return {ATTR_INT: "int", ATTR_STRING: "string", ATTR_REAL: "float"}[ref_type]


def schema_ddl(md_bytes: bytes) -> str:
    return ", ".join(f"`{name}` {_spark_type(t)}" for name, t in read_schema(md_bytes))


def _read_bytes(path: str) -> bytes:
    """Whole file at a local path (relative or absolute) or at any URI
    pyarrow's filesystem layer resolves (file:, hdfs:, s3:, ...)."""
    from pyarrow import fs as pafs

    if not urlsplit(path).scheme:
        path = os.path.abspath(path)
    filesystem, inner = pafs.FileSystem.from_uri(path)
    with filesystem.open_input_file(inner) as fh:
        return fh.read()


def read_tbl_dataset(spark, md_path: str, tbl_glob: str):
    """Distributed load of a reference-native table: driver reads the
    tiny `.md` once for the schema; the `.tbl` shards are decoded
    executor-side, one whole file per task (binaryFile +
    Arrow-batched mapInPandas), so a sharded dataset decodes with
    file-level parallelism and zero driver involvement. Both paths
    take a local path or a URI: Spark's binaryFile source lists and
    reads the shards, pyarrow's filesystem layer reads the `.md`."""
    import pandas as pd

    md = _read_bytes(md_path)
    cols = read_schema(md)
    ddl = schema_ddl(md)

    def decode(batches):
        for pdf in batches:
            for raw in pdf["content"]:
                rows = read_tuples(bytes(raw))
                yield pd.DataFrame(rows, columns=[c for c, _ in cols])

    files = spark.read.format("binaryFile").load(tbl_glob).select("content")
    return files.mapInPandas(decode, schema=ddl)
