"""Order-insensitive digest of a component run's outputs.

Covers everything the platform keeps from a job:

* every ``out/tables`` CSV: header kept in order, data rows hashed as a
  multiset (sum of per-row hashes), so row order and part layout do not
  matter but any changed cell does;
* every ``out/tables`` manifest, byte for byte;
* every ``out/files/warehouse`` table: the passthrough state the next run
  consumes. Parquet is summarised from its footers (schema, row count and
  per-column null count, min and max), which are independent of row order
  and file split.
"""

import hashlib
import json
import struct
from pathlib import Path

_MOD = 1 << 128


def _row_hash(line):
    return int.from_bytes(hashlib.blake2b(line, digest_size=16).digest(), "little")


def csv_digest(path):
    """(rows, hex) for one exported CSV. A quoted field may hold a newline,
    so physical lines are joined until their quotes balance."""
    data = Path(path).read_bytes()
    lines = data.split(b"\n")
    if lines and lines[-1] == b"":
        lines.pop()
    records = []
    pending = None
    for line in lines:
        pending = line if pending is None else pending + b"\n" + line
        if pending.count(b'"') % 2 == 0:
            records.append(pending)
            pending = None
    if pending is not None:
        records.append(pending)
    header = records[0] if records else b""
    total = 0
    for r in records[1:]:
        total = (total + _row_hash(r)) % _MOD
    h = hashlib.sha256(header + b"\n%d\n%032x" % (len(records) - 1, total))
    return max(len(records) - 1, 0), h.hexdigest()


class _Compact:
    """Reader for the Thrift compact protocol used by parquet footers."""

    def __init__(self, buf):
        self.b = buf
        self.i = 0

    def _byte(self):
        v = self.b[self.i]
        self.i += 1
        return v

    def _varint(self):
        shift = result = 0
        while True:
            x = self._byte()
            result |= (x & 0x7F) << shift
            shift += 7
            if not x & 0x80:
                return result

    def _zigzag(self):
        v = self._varint()
        return (v >> 1) ^ -(v & 1)

    def value(self, t):
        if t in (1, 2):
            return t == 1
        if t == 3:
            return self._byte()
        if t in (4, 5, 6):
            return self._zigzag()
        if t == 7:
            v = struct.unpack_from("<d", self.b, self.i)[0]
            self.i += 8
            return v
        if t == 8:
            n = self._varint()
            v = bytes(self.b[self.i:self.i + n])
            self.i += n
            return v
        if t in (9, 10):
            h = self._byte()
            n, et = h >> 4, h & 0x0F
            if n == 15:
                n = self._varint()
            if et in (1, 2):
                return [self._byte() == 1 for _ in range(n)]
            return [self.value(et) for _ in range(n)]
        if t == 11:
            n = self._varint()
            if n == 0:
                return {}
            h = self._byte()
            return dict((self.value(h >> 4), self.value(h & 0x0F)) for _ in range(n))
        if t == 12:
            return self.struct()
        raise ValueError("unknown thrift compact type %d" % t)

    def struct(self):
        out = {}
        fid = 0
        while True:
            h = self._byte()
            if h == 0:
                return out
            delta = h >> 4
            fid = fid + delta if delta else self._zigzag()
            out[fid] = self.value(h & 0x0F)


def parquet_footer(path):
    """The FileMetaData struct of one parquet file, as {field id: value}."""
    data = Path(path).read_bytes()
    if data[:4] != b"PAR1" or data[-4:] != b"PAR1":
        raise ValueError("%s is not a parquet file" % path)
    n = struct.unpack_from("<I", data, len(data) - 8)[0]
    return _Compact(data[len(data) - 8 - n:len(data) - 8]).struct()


_PHYSICAL = {1: "<i", 2: "<q", 4: "<f", 5: "<d"}


def _decode(physical, schema_el, raw):
    if raw is None:
        return None
    if physical in _PHYSICAL:
        return struct.unpack(_PHYSICAL[physical], raw)[0]
    if physical == 7 and 8 in schema_el:  # FIXED_LEN_BYTE_ARRAY decimal
        return int.from_bytes(raw, "big", signed=True)
    return raw


def parquet_table_summary(table_dir):
    """Order- and split-insensitive summary of one parquet table directory."""
    rows = 0
    cols = {}
    schema = None
    for f in sorted(Path(table_dir).glob("*.parquet")):
        meta = parquet_footer(f)
        leaves = [el for el in meta.get(2, [])[1:] if not el.get(5)]
        file_schema = [(el[4].decode(), el.get(1), el.get(6), el.get(7), el.get(8)) for el in leaves]
        if schema is None:
            schema = file_schema
        elif schema != file_schema:
            raise ValueError("parquet files of %s disagree on schema" % table_dir)
        by_name = {el[4].decode(): el for el in leaves}
        rows += meta.get(3, 0)
        for rg in meta.get(4, []):
            for chunk in rg.get(1, []):
                cm = chunk[3]
                name = ".".join(p.decode() for p in cm[3])
                stats = cm.get(12, {})
                lo = _decode(cm[1], by_name.get(name, {}), stats.get(6))
                hi = _decode(cm[1], by_name.get(name, {}), stats.get(5))
                c = cols.setdefault(name, {"nulls": 0, "min": None, "max": None})
                c["nulls"] += stats.get(3, 0)
                if lo is not None and (c["min"] is None or lo < c["min"]):
                    c["min"] = lo
                if hi is not None and (c["max"] is None or hi > c["max"]):
                    c["max"] = hi
    return {
        "rows": rows,
        "schema": [list(s) for s in (schema or [])],
        "columns": {n: {k: repr(v) for k, v in c.items()} for n, c in sorted(cols.items())},
    }


def outputs_digest(data_dir):
    """(hex digest, details) over a data directory's out/tables and
    out/files/warehouse."""
    out = Path(data_dir) / "out"
    details = {}
    tables = out / "tables"
    if tables.is_dir():
        for p in sorted(tables.iterdir()):
            key = "tables/" + p.name
            if p.name.endswith(".manifest"):
                details[key] = hashlib.sha256(p.read_bytes()).hexdigest()
            elif p.is_file():
                rows, h = csv_digest(p)
                details[key] = {"rows": rows, "sha256": h}
            else:
                details[key] = "unexpected directory"
    warehouse = out / "files" / "warehouse"
    if warehouse.is_dir():
        for p in sorted(warehouse.iterdir()):
            key = "warehouse/" + p.name
            if p.is_dir():
                details[key] = parquet_table_summary(p)
            else:
                details[key] = hashlib.sha256(p.read_bytes()).hexdigest()
    canon = json.dumps(details, sort_keys=True).encode()
    return hashlib.sha256(canon).hexdigest(), details
