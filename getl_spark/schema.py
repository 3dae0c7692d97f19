"""Schema descriptors: getl ``Field`` reimagined as StructField metadata.

Reference parity: getl's 15-type ``Field`` enum with key/partition
ordinals (/root/reference/src/main/groovy/getl/data/Field.groovy:41-44,
137-178) maps to Spark types + a metadata dict; the whitelist of
implicit conversions (:478-510) lives in lake/evolution.py.

Also provides :func:`parse_ddl`, a session-free DDL-string -> StructType
parser (pyspark 4's ``_parse_datatype_string`` requires a live session,
which schema manipulation shouldn't).
"""

from __future__ import annotations

import re

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_SIMPLE = {
    "string": StringType(),
    "text": StringType(),
    "uuid": StringType(),
    "int": IntegerType(),
    "integer": IntegerType(),
    "bigint": LongType(),
    "long": LongType(),
    "smallint": ShortType(),
    "tinyint": ByteType(),
    "double": DoubleType(),
    "float": FloatType(),
    "boolean": BooleanType(),
    "bool": BooleanType(),
    "date": DateType(),
    "timestamp": TimestampType(),
    "datetime": TimestampType(),
    "binary": BinaryType(),
    "blob": BinaryType(),
    # getl Field.TIMESTAMP_WITH_TIMEZONE (data/Field.groovy:41-44,
    # proto schema jdbc/JDBCDriverProto.groovy:66-86): Spark has no
    # offset-carrying type — TimestampType is instant semantics,
    # normalized to the session zone (this engine pins sessions to
    # UTC, session.py). Documented normalization: the INSTANT is
    # preserved exactly; the original wall-clock offset round-trips
    # via functions.temporal.tz_parse/tz_format, which carry it in a
    # companion int column.
    "timestamp_with_timezone": TimestampType(),
    "timestamptz": TimestampType(),
    # getl Field.TIME (data/Field.groovy:41-44): Spark has no TIME type;
    # times map to 'HH:mm:ss[.SSS]' strings (documented decision — the
    # lexical form sorts correctly and round-trips losslessly).
    "time": StringType(),
}


def parse_type(s: str) -> DataType:
    s = s.strip().lower()
    if s in _SIMPLE:
        return _SIMPLE[s]
    m = re.fullmatch(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", s)
    if m:
        return DecimalType(int(m.group(1)), int(m.group(2)))
    m = re.fullmatch(r"(?:varchar|char|string)\s*\(\s*\d+\s*\)", s)
    if m:
        return StringType()
    m = re.fullmatch(r"array\s*<(.+)>", s)
    if m:
        return ArrayType(parse_type(m.group(1)))
    m = re.fullmatch(r"map\s*<(.+)>", s)
    if m:
        # split on the TOP-LEVEL comma only: map<string,decimal(1,0)>
        # must not split inside the value type (hypothesis-found bug)
        parts = _split_top(m.group(1))
        if len(parts) == 2:
            return MapType(parse_type(parts[0]), parse_type(parts[1]))
    raise ValueError(f"cannot parse type: {s!r}")


def _split_top(s: str, sep: str = ",") -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == sep and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def parse_ddl(ddl: str) -> StructType:
    """Parse ``"a string, b bigint, c decimal(12,2)"`` without a session."""
    fields = []
    for part in _split_top(ddl):
        part = part.strip()
        if not part:
            continue
        name, _, typ = part.partition(" ")
        not_null = False
        tl = typ.strip()
        if tl.lower().endswith(" not null"):
            not_null = True
            tl = tl[: -len(" not null")]
        fields.append(StructField(name.strip().strip("`"), parse_type(tl), not not_null))
    return StructType(fields)


def load_getl_schema(path: str) -> tuple[StructType, dict]:
    """Parse a getl dataset schema file (the JSON ``Field`` list getl
    writes beside CSVs with ``autoSchema``/``schemaFileName`` — e.g.
    the OGG change-export descriptor
    /root/reference/src/test/resources/csv/ogg.dsv.schema, consumed by
    csv/CSVDriver via data/Field deserialization).

    Returns ``(schema, field_formats)`` ready for
    :func:`getl_spark.sources.read_csv`: getl types map onto Spark
    types (NUMERIC with length/precision -> decimal, without -> double;
    DATETIME/TIMESTAMP_WITH_TIMEZONE -> timestamp; TIME -> string per
    the documented mapping) and per-field ``format`` strings become
    ``field_formats`` entries so a migrating getl user's existing
    .schema files drive the read unchanged."""
    import json

    with open(path) as fh:
        doc = json.load(fh)
    fields, formats = [], {}
    type_map = {
        "STRING": "string", "TEXT": "string", "UUID": "string",
        "ROWID": "string", "OBJECT": "string", "TIME": "string",
        "INTEGER": "int", "BIGINT": "bigint", "DOUBLE": "double",
        "BOOLEAN": "boolean", "DATE": "date", "DATETIME": "timestamp",
        "TIMESTAMP_WITH_TIMEZONE": "timestamp", "BLOB": "binary",
    }
    for f in doc.get("fields", []):
        name = f["name"].lower()
        t = str(f.get("type", "STRING")).upper()
        if t == "NUMERIC":
            length, prec = f.get("length"), f.get("precision")
            typ = f'decimal({int(length)},{int(prec or 0)})' if length else "double"
        else:
            typ = type_map.get(t)
            if typ is None:
                raise ValueError(f"unsupported getl field type {t} for {name}")
        fields.append(StructField(name, parse_type(typ), not f.get("isNull") is False))
        fmt = f.get("format")
        if fmt and t in ("DATE", "DATETIME", "TIMESTAMP_WITH_TIMEZONE", "TIME", "BOOLEAN", "NUMERIC"):
            if t in ("DATETIME", "TIMESTAMP_WITH_TIMEZONE"):
                # getl's ParseDate is lenient (real OGG exports declare
                # .SSS but carry 6 fraction digits) — schema-file-driven
                # reads inherit that; hand-written field_formats stay
                # strict unless the caller opts in
                formats[name] = {"format": fmt, "lenient": True}
            elif t == "NUMERIC":
                formats[name] = _numeric_format_spec(name, fmt)
            else:
                formats[name] = fmt
    return StructType(fields), formats


def _numeric_format_spec(name: str, fmt: str) -> dict:
    """Translate a getl NUMERIC format (java.text.DecimalFormat
    pattern, e.g. ``#,##0.00``) into the separator spec the CSV reader
    honors. In a DecimalFormat PATTERN the grouping char is always
    ``,`` and the decimal char always ``.`` (locale substitutes actual
    characters at runtime; getl uses the root locale, so the pattern
    chars ARE the cell chars). A pattern outside the plain
    digits/grouping/decimal shape (currency, percent, exponents,
    per-mille, prefixes) raises instead of silently NULLing every cell
    into the corrupt-row accounting."""
    import re as _re

    if not _re.fullmatch(r"[#0]+(,[#0]+)*(\.[#0]+)?", fmt):
        raise ValueError(
            f"getl schema field '{name}': unsupported NUMERIC format "
            f"{fmt!r} — only digit/grouping/decimal DecimalFormat "
            "patterns (like '#,##0.00') are supported; parsing with an "
            "ignored format would silently corrupt rows"
        )
    spec: dict = {"format": fmt}
    if "," in fmt:
        spec["grouping_separator"] = ","
    if "." in fmt:
        spec["decimal_separator"] = "."
    return spec


def save_getl_schema(
    schema: StructType, path: str, field_formats: dict | None = None
) -> None:
    """Write a getl-compatible dataset schema file (the inverse of
    :func:`load_getl_schema` — getl's ``saveSchema``/``autoSchema``
    write side): a Spark schema (+ optional per-field formats)
    serializes to the JSON Field list getl reads, so data produced by
    this engine round-trips into a getl deployment with its schema."""
    import json

    inverse = {
        "string": "STRING", "int": "INTEGER", "smallint": "INTEGER",
        "tinyint": "INTEGER", "bigint": "BIGINT", "double": "DOUBLE",
        "float": "DOUBLE", "boolean": "BOOLEAN", "date": "DATE",
        "timestamp": "DATETIME", "binary": "BLOB",
    }
    fields = []
    for f in schema.fields:
        s = f.dataType.simpleString()
        entry: dict = {"name": f.name.upper()}
        if s.startswith("decimal"):
            p, sc = map(int, s[s.index("(") + 1 : -1].split(","))
            entry.update({"type": "NUMERIC", "length": p, "precision": sc})
        elif s in inverse:
            entry["type"] = inverse[s]
        else:
            raise ValueError(f"cannot express {s} as a getl field type ({f.name})")
        if not f.nullable:
            entry["isNull"] = False
        fmt = (field_formats or {}).get(f.name)
        if fmt:
            entry["format"] = fmt if isinstance(fmt, str) else fmt.get("format")
        fields.append(entry)
    with open(path, "w") as fh:
        json.dump({"fields": fields}, fh, indent=2)


def field(
    name: str,
    dtype: str,
    nullable: bool = True,
    is_key: bool = False,
    ord_key: int | None = None,
    is_partition: bool = False,
    ord_partition: int | None = None,
) -> StructField:
    """getl Field -> StructField with key/partition ordinals in metadata."""
    md = {}
    if is_key:
        md["isKey"] = True
        md["ordKey"] = ord_key if ord_key is not None else 0
    if is_partition:
        md["isPartition"] = True
        md["ordPartition"] = ord_partition if ord_partition is not None else 0
    return StructField(name, parse_type(dtype), nullable, metadata=md)


def key_columns(schema: StructType) -> list[str]:
    """Ordered composite key from metadata (getl getFieldListKeys,
    /root/reference/src/main/groovy/getl/data/Dataset.groovy:806-815)."""
    keys = [
        (f.metadata.get("ordKey", 0), f.name)
        for f in schema.fields
        if f.metadata.get("isKey")
    ]
    return [n for _, n in sorted(keys)]
