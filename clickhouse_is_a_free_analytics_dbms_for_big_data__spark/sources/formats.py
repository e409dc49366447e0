"""I/O formats (reference: dbms/src/DataStreams/FormatFactory.cpp).

Two families, mirroring how the reference uses them:

**Storage/interchange formats** (TabSeparated*, CSV*, JSONEachRow,
TSKV, Values) — distributed ``spark.read``/``df.write`` mappings.
These scale: a TSV read is a parallel text scan with schema applied;
a TSKV read stays JVM-side via ``str_to_map``.

**Display formats** (Pretty, PrettyCompact, Vertical, JSON,
JSONCompact, XML) — client-side renderers over a *collected* result,
exactly like the reference's output-only formats (they exist to format
a query result for a human/client, never to store data).  ``max_rows``
guards the collect.

**Wire formats**: RowBinary (row-wise, RowBinaryRowOutputStream.cpp)
and Native (column-wise blocks, NativeBlockOutputStream.cpp) are both
rendered byte-exactly for FORMAT output, with ``parse_native`` as the
reader twin; for bulk STORAGE interchange Arrow and Parquet fill that
role on Spark by construction (IDataType binary bulk serde,
IDataType.h:55-60).
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["read_format", "write_format", "format_result", "FORMATS"]

_TSV_FAMILY = {
    "TabSeparated": {"sep": "\t", "header": False},
    "TSV": {"sep": "\t", "header": False},
    "TabSeparatedWithNames": {"sep": "\t", "header": True},
    "TSVWithNames": {"sep": "\t", "header": True},
    "CSV": {"sep": ",", "header": False},
    "CSVWithNames": {"sep": ",", "header": True},
}

FORMATS = sorted(
    list(_TSV_FAMILY)
    + ["JSONEachRow", "TSKV", "Values", "Pretty", "PrettyCompact", "Vertical",
       "JSON", "JSONCompact", "XML", "Null"]
)


# ------------------------------------------------------------------ read


def read_format(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: StructType | str | None = None,
) -> DataFrame:
    """Distributed read of an interchange format into a DataFrame."""
    if fmt in _TSV_FAMILY:
        opts = _TSV_FAMILY[fmt]
        reader = spark.read.option("sep", opts["sep"]).option(
            "header", str(opts["header"]).lower()
        )
        if schema is not None:
            reader = reader.schema(schema)
        else:
            reader = reader.option("inferSchema", "true")
        return reader.csv(path)
    if fmt == "JSONEachRow":
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.json(path)
    if fmt == "TSKV":
        return _read_tskv(spark, path, schema)
    if fmt == "Values":
        return _read_values(spark, path, schema)
    raise ValueError(f"unsupported read format {fmt!r} (supported: {FORMATS})")


def _read_tskv(
    spark: SparkSession, path: str, schema: StructType | str | None
) -> DataFrame:
    """TSKV: ``k=v<TAB>k=v`` lines.  Parsed JVM-side: split on tabs,
    str_to_map, then typed extraction — no Python in the scan."""
    raw = spark.read.text(path)
    kv = raw.select(
        F.str_to_map(F.col("value"), F.lit("\t"), F.lit("=")).alias("m")
    )
    if schema is None:
        return kv
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    cols = [
        F.element_at(F.col("m"), f.name).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ]
    return kv.select(*cols)


def _read_values(
    spark: SparkSession, path_or_text: str, schema: StructType | str | None
) -> DataFrame:
    """Values: ``(v, ...), (v, ...)`` — the reference's INSERT literal
    format (small payloads by design); parsed on the driver."""
    import ast
    import os

    if os.path.exists(path_or_text):
        with open(path_or_text) as f:
            text = f.read()
    else:
        text = path_or_text
    rows = list(ast.literal_eval(f"[{text.strip().rstrip(',')}]"))
    rows = [r if isinstance(r, tuple) else (r,) for r in rows]
    if schema is not None:
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(rows)


# ----------------------------------------------------------------- write


def write_format(df: DataFrame, path: str, fmt: str, mode: str = "overwrite") -> None:
    """Distributed write of a DataFrame in an interchange format."""
    if fmt in _TSV_FAMILY:
        opts = _TSV_FAMILY[fmt]
        (
            df.write.mode(mode)
            .option("sep", opts["sep"])
            .option("header", str(opts["header"]).lower())
            .csv(path)
        )
        return
    if fmt == "JSONEachRow":
        df.write.mode(mode).json(path)
        return
    if fmt == "TSKV":
        line = F.concat_ws(
            "\t",
            *[
                F.concat(F.lit(c), F.lit("="), F.col(c).cast("string"))
                for c in df.columns
            ],
        )
        df.select(line.alias("value")).write.mode(mode).text(path)
        return
    if fmt == "Null":  # StorageFactory.cpp:402 — discard
        df.foreach(lambda _: None)
        return
    raise ValueError(f"unsupported write format {fmt!r}")


# --------------------------------------------------------------- display


#: client-format synonyms (FormatFactory.cpp registers both spellings)
_FMT_SYNONYMS = {
    "TSV": "TabSeparated",
    "TSVRaw": "TabSeparatedRaw",
    "TSVWithNames": "TabSeparatedWithNames",
    "TSVWithNamesAndTypes": "TabSeparatedWithNamesAndTypes",
}

#: Spark simpleString → CH type name: the one map every consumer of a
#: column without a declared CH type reads (translator type lookup,
#: DESCRIBE, toTypeName, output-format headers; §1.2 type table).
#: Unmapped types keep their Spark names.
SPARK_TO_CH = {
    "tinyint": "Int8", "smallint": "Int16", "int": "Int32",
    "bigint": "Int64", "float": "Float32", "double": "Float64",
    "string": "String", "date": "Date", "timestamp": "DateTime",
    "timestamp_ntz": "DateTime", "boolean": "UInt8",
    "decimal(20,0)": "UInt64",
}


def ch_type_of_spark(simple: str) -> str:
    """CH type name of a Spark simpleString type (see SPARK_TO_CH)."""
    if simple.startswith("array<") and simple.endswith(">"):
        return f"Array({ch_type_of_spark(simple[6:-1])})"
    return SPARK_TO_CH.get(simple, simple)


def format_result(
    df: DataFrame,
    fmt: str,
    max_rows: int = 10000,
    totals: bool = False,
    extremes: bool = False,
    settings: dict | None = None,
    ch_types: list | None = None,
    ch_names: list | None = None,
    rows_before_limit: int | None = None,
    totals_default_cols: list | None = None,
    const_cols: list | None = None,
    block_rows: list | None = None,
) -> str:
    """Render a (small) result the way the reference's output formats do.

    Collects up to ``max_rows`` — display formats are a client concern,
    same as Pretty*/Vertical/JSON in the reference (output-only,
    FormatFactory.cpp).

    ``totals``: the LAST collected row is a WITH TOTALS row (the
    translator orders totals last); TabSeparated writes it as its own
    block after an empty separator line, with NULLed grouping keys
    rendered as their type defaults (TotalsHaving fills key columns
    with default values)."""
    fmt = _FMT_SYNONYMS.get(fmt, fmt)
    settings = settings or {}
    rows = _collect_bytes_faithful(df, max_rows)
    names = df.columns
    types = [f.dataType.simpleString() for f in df.schema.fields]
    # CH type text per output column: translator-inferred when
    # available, else mapped from the Spark type
    if ch_types is None or len(ch_types) != len(names):
        ch_types = [None] * len(names)
    ch_type_texts = [
        c if c is not None else ch_type_of_spark(t)
        for c, t in zip(ch_types, types)
    ]
    # UInt64 bit patterns -> unsigned values ONCE, before dispatch, so
    # every writer (CSV/JSON/Values/Vertical/XML/Pretty/TSV...) prints
    # the full u64 range — not just the TSV family
    _u64_idx = {
        i
        for i, c in enumerate(ch_type_texts)
        if c
        and str(c).removeprefix("Nullable(").removesuffix(")") == "UInt64"
    }
    if _u64_idx and rows:
        from pyspark.sql import Row as _Row

        _mk = _Row(*names)
        rows = [
            _mk(*[
                _u64v(r[i], ch_type_texts[i]) if i in _u64_idx else r[i]
                for i in range(len(names))
            ])
            for r in rows
        ]

    # SETTINGS extremes = 1: a trailing two-row min/max block after a
    # blank separator (IProfilingBlockInputStream::updateExtremes +
    # TabSeparated writeExtremes); computed over the result rows,
    # totals row excluded
    ext_block = ""
    ext_pairs = None
    if extremes and rows:
        data_rows = rows[:-1] if totals else rows
        if data_rows:
            # ColumnConst::getExtremes = the value itself — EXCEPT the
            # Array specialization, which keeps the default []
            # (Columns/ColumnConst.h:245,280)
            const_set = {
                i for i in (const_cols or ())
                if not isinstance(data_rows[0][i], list)
            }
            ext_pairs = [
                (data_rows[0][i], data_rows[0][i])
                if i in const_set
                else _extremes_pair([r[i] for r in data_rows], f.dataType)
                for i, f in enumerate(df.schema.fields)
            ]
    if ext_pairs is not None and fmt in ("TabSeparated", "TSV"):
        ext_block = "\n" + "".join(
            "\t".join(
                _tsv_cell(_f32(p[k], t)) for p, t in zip(ext_pairs, types)
            )
            + "\n"
            for k in (0, 1)
        )

    if fmt == "RowBinary":
        return _render_rowbinary(rows, types, ch_type_texts)
    if fmt == "Native":
        return _render_native(
            rows, names, types, ch_type_texts, block_rows
        )

    forced = set(totals_default_cols or ())
    if totals and rows and fmt in ("TabSeparated", "TSV"):
        body, trow = rows[:-1], rows[-1]
        tcells = [
            _tsv_cell(_totals_default(
                None if i in forced and not t.startswith("struct") else trow[n],
                t,
                ch_type_texts[i],
            ))
            for i, (n, t) in enumerate(zip(names, types))
        ]
        return (
            "".join(
                "\t".join(_tsv_cell(r[i]) for i in range(len(names))) + "\n"
                for r in body
            )
            + "\n"
            + "\t".join(tcells)
            + "\n"
            + ext_block
        )

    if fmt in (
        "Pretty", "PrettyCompact", "PrettySpace", "PrettyNoEscapes",
        "PrettyCompactNoEscapes", "PrettySpaceNoEscapes",
        "PrettyCompactMonoBlock",
    ):
        return _render_pretty(
            _resolve_ch_names(ch_names, names), rows, df.schema.fields,
            types, fmt, settings,
            block_rows=block_rows, ch_types=ch_type_texts,
        )
    if fmt in ("Vertical", "VerticalRaw"):
        return _vertical(names, rows, types, raw=fmt == "VerticalRaw")
    if fmt in ("JSON", "JSONCompact"):
        return _render_json(
            names=_resolve_ch_names(ch_names, names),
            rows=rows,
            fields=df.schema.fields,
            ch_types=ch_type_texts,
            compact=fmt == "JSONCompact",
            totals=totals,
            forced_default_cols=set(totals_default_cols or ()),
            ext_pairs=ext_pairs,
            quote64=str(settings.get(
                "output_format_json_quote_64bit_integers", "1"
            )) not in ("0", ""),
            rows_before_limit=rows_before_limit,
        )
    if fmt == "JSONEachRow":
        # {"name":value} per line (JSONEachRowRowOutputStream.cpp:27-47);
        # a totals row is not part of this format's output
        jnames = [_json_escape(n) for n in _resolve_ch_names(ch_names, names)]
        body = rows[:-1] if totals and rows else rows
        q64 = str(settings.get(
            "output_format_json_quote_64bit_integers", "1"
        )) not in ("0", "")
        return "".join(
            "{"
            + ",".join(
                f"{jnames[i]}:{_json_value(r[i], ch_type_texts[i], q64)}"
                for i in range(len(names))
            )
            + "}\n"
            for r in body
        )
    if fmt == "Values":
        return ", ".join(
            "(" + ", ".join(_sql_literal(r[n]) for n in names) + ")" for r in rows
        )
    if fmt in (
        "TabSeparated", "TabSeparatedWithNames",
        "TabSeparatedWithNamesAndTypes",
    ):
        # every row newline-terminated (IO/WriteHelpers.h writeChar after
        # each row) — zero rows is the empty string, one empty-string
        # cell is a single blank line; they must stay distinguishable
        head = ""
        if fmt != "TabSeparated":
            head = "\t".join(_tsv_cell(n) for n in names) + "\n"
            if fmt.endswith("AndTypes"):
                head += "\t".join(ch_type_texts) + "\n"
        return (
            head
            + "".join(
                "\t".join(
                    _tsv_cell(_f32(_u64v(r[i], ch_type_texts[i]), t))
                    for i, t in enumerate(types)
                )
                + "\n"
                for r in rows
            )
            + ext_block
        )
    if fmt == "BlockTabSeparated":
        # transposed: one line per COLUMN, cells tab-joined down the
        # rows, blank line after each block
        # (BlockTabSeparatedRowOutputStream)
        body = "".join(
            "\t".join(_tsv_cell(_f32(_u64v(r[i], ch_type_texts[i]), types[i])) for r in rows) + "\n"
            for i in range(len(names))
        )
        return body + "\n" if body else body
    if fmt == "TSKV":
        # name=value pairs, TSV-escaped, one row per line
        # (TSKVRowOutputStream.cpp; '=' also escaped in names)
        out_names = _resolve_ch_names(ch_names, names)
        esc_names = [_tsv_cell(n).replace("=", "\\=") for n in out_names]
        return "".join(
            "\t".join(
                f"{esc_names[i]}={_tsv_cell(_f32(_u64v(r[i], ch_type_texts[i]), t))}"
                for i, t in enumerate(types)
            )
            + "\n"
            for r in rows
        )
    if fmt == "TabSeparatedRaw":
        # serializeText, no escaping (TabSeparatedRawRowOutputStream)
        return "".join(
            "\t".join(_cell(_f32(r[i], t)) for i, t in enumerate(types))
            + "\n"
            for r in rows
        )
    if fmt in ("CSV", "CSVWithNames"):
        head = ""
        if fmt == "CSVWithNames":
            head = ",".join(_csv_quote(n) for n in names) + "\n"
        return head + "".join(
            ",".join(
                part
                for i, t in enumerate(types)
                for part in _csv_fields(r[i], t)
            )
            + "\n"
            for r in rows
        )
    if fmt == "XML":
        return _render_xml(
            names=_resolve_ch_names(ch_names, names),
            rows=rows,
            ch_types=ch_type_texts,
            totals=totals,
            forced_default_cols=set(totals_default_cols or ()),
            ext_pairs=ext_pairs,
            rows_before_limit=rows_before_limit,
            fields=df.schema.fields,
        )
    raise ValueError(f"unsupported display format {fmt!r}")


def _extremes_pair(vals: list, dt) -> tuple:
    """(min, max) of a result column the way IColumn::getExtremes does:
    numeric skips NULLs and NaNs (all-NaN → NaN, empty column → 0,
    all-NULL → NULL: ColumnVector.cpp:259, ColumnNullable.cpp:384),
    String is always ''/'' (ColumnString.cpp:253), Tuple is
    component-wise (ColumnTuple.cpp:266), Array defaults to []."""
    import datetime as _dt
    import math

    from pyspark.sql import Row
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        present = [v for v in vals if v is not None]
        mins, maxs = [], []
        for idx, f in enumerate(dt.fields):
            mn, mx = _extremes_pair([v[idx] for v in present], f.dataType)
            mins.append(mn)
            maxs.append(mx)
        return Row(*mins), Row(*maxs)
    if isinstance(dt, T.ArrayType):
        return [], []
    if isinstance(dt, T.StringType):
        return "", ""
    if isinstance(dt, T.DateType):
        nums = [v for v in vals if v is not None]
        if nums:
            return min(nums), max(nums)
        zero = _dt.date(1970, 1, 1)
        return (None, None) if vals else (zero, zero)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        nums = [v for v in vals if v is not None]
        if nums:
            return min(nums), max(nums)
        zero = _dt.datetime(1970, 1, 1)
        return (None, None) if vals else (zero, zero)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        if not vals:
            return 0.0, 0.0
        nonnull = [v for v in vals if v is not None]
        if not nonnull:
            return None, None
        nums = [v for v in nonnull if not math.isnan(v)]
        if nums:
            return min(nums), max(nums)
        return float("nan"), float("nan")
    if isinstance(
        dt,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
         T.DecimalType, T.BooleanType),
    ):
        if not vals:
            return 0, 0
        nums = [v for v in vals if v is not None]
        if nums:
            return min(nums), max(nums)
        return None, None
    return None, None


def _totals_default(v, spark_type: str, ch_type: str | None = None):
    """NULLed grouping key in the totals row → the column type's
    default value (TotalsHavingBlockInputStream fills key columns with
    defaults; non-key NULLs cannot occur in non-Nullable output)."""
    if v is not None:
        return v
    if ch_type and ch_type.startswith("Enum"):
        # Enum default = the minimum VALUE's name (DataTypeEnum)
        import re as _re

        pairs = _re.findall(r"'((?:[^'\\]|\\.)*)'\s*=\s*(-?\d+)", ch_type)
        if pairs:
            return min(pairs, key=lambda nv: int(nv[1]))[0]
    t = spark_type.lower()
    if t in ("tinyint", "smallint", "int", "bigint") or t.startswith("decimal"):
        return 0
    if t in ("float", "double"):
        return 0.0
    if t == "string":
        return ""
    if t == "date":
        import datetime as _dt

        return _dt.date(1970, 1, 1)
    if t.startswith("timestamp"):
        import datetime as _dt

        return _dt.datetime(1970, 1, 1, 0, 0, 0)
    if t.startswith("array"):
        return []
    return v


def _dt_is_numeric(dt) -> bool:
    """IDataType::isNumeric — numbers, dates and enums-as-numbers are
    right-aligned in Pretty formats; Nullable looks through to the
    nested type (DataTypeNullable)."""
    from pyspark.sql import types as T

    return isinstance(
        dt,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
         T.FloatType, T.DoubleType, T.DecimalType, T.BooleanType,
         T.DateType, T.TimestampType, T.TimestampNTZType,
         T.NullType),  # DataTypeNull behaves as a number column
    )


def _render_pretty(
    names: list[str], rows, fields, types, fmt: str, settings: dict,
    block_rows: list | None = None, ch_types: list | None = None,
) -> str:
    """Pretty* writers, byte-faithful to the reference
    (PrettyBlockOutputStream.cpp, PrettyCompactBlockOutputStream.cpp,
    PrettySpaceBlockOutputStream.cpp,
    PrettyCompactMonoBlockOutputStream.cpp): rows arrive in
    max_block_size chunks each rendered as its own table, widths are
    visibleWidth of the escaped cell text per block, numeric columns
    right-align, names are ANSI-bold unless NoEscapes, and
    output_format_pretty_max_rows truncates with a 'Showed first N.'
    trailer."""
    no_escapes = fmt.endswith("NoEscapes")
    base = fmt[: -len("NoEscapes")] if no_escapes else fmt
    mono = base == "PrettyCompactMonoBlock"
    if mono:
        base = "PrettyCompact"
    style = {
        "Pretty": "full", "PrettyCompact": "compact",
        "PrettySpace": "space",
    }[base]
    block_size = int(settings.get("max_block_size", 65536))
    pmax = int(settings.get("output_format_pretty_max_rows", 10000))
    # Enum is numbers-backed (DataTypeEnum isNumeric) — right-aligned
    # even though the Spark column is STRING (golden 00298)
    numeric = [
        _dt_is_numeric(f.dataType)
        or bool(ch_types and i < len(ch_types) and str(ch_types[i]).startswith("Enum"))
        for i, f in enumerate(fields)
    ]
    name_cells = [_tsv_cell(n) for n in names]

    def bold(s: str) -> str:
        return s if no_escapes else f"\033[1m{s}\033[0m"

    def cells_of(r) -> list[str]:
        return [
            _tsv_cell(_f32(_u64v(r[i], ch_types[i] if ch_types and i < len(ch_types) else None), t))
            for i, t in enumerate(types)
        ]

    if block_rows:
        # explicit block boundaries (one block per UNION ALL branch)
        blocks, k = [], 0
        for c in block_rows:
            blocks.append(rows[k : k + c])
            k += c
        if k < len(rows):
            blocks.append(rows[k:])
    else:
        blocks = [
            rows[k : k + block_size] for k in range(0, len(rows), block_size)
        ]

    def widths_of(cell_rows) -> list[int]:
        return [
            max([len(nc)] + [len(cr[i]) for cr in cell_rows])
            for i, nc in enumerate(name_cells)
        ]

    def header_lines(widths) -> list[str]:
        if style == "full":
            top = "┏" + "┳".join("━" * (w + 2) for w in widths) + "┓"
            hs = []
            for nc, w, num in zip(name_cells, widths, numeric):
                pad = " " * (w - len(nc))
                hs.append(bold(pad + nc if num else nc + pad))
            hdr = "┃ " + " ┃ ".join(hs) + " ┃"
            nsep = "┡" + "╇".join("━" * (w + 2) for w in widths) + "┩"
            return [top, hdr, nsep]
        if style == "compact":
            hs = []
            for nc, w, num in zip(name_cells, widths, numeric):
                pad = "─" * (w - len(nc))
                hs.append(pad + bold(nc) if num else bold(nc) + pad)
            return ["┌─" + "─┬─".join(hs) + "─┐"]
        hs = []
        for nc, w, num in zip(name_cells, widths, numeric):
            pad = " " * (w - len(nc))
            hs.append(pad + bold(nc) if num else bold(nc) + pad)
        return ["   ".join(hs), ""]

    def row_line(cr, widths) -> str:
        ds = []
        for c, w, num in zip(cr, widths, numeric):
            pad = " " * (w - len(c))
            ds.append(pad + c if num else c + pad)
        if style == "space":
            return "   ".join(ds)
        return "│ " + " │ ".join(ds) + " │"

    def bottom_line(widths) -> str | None:
        if style == "space":
            return None
        return "└" + "┴".join("─" * (w + 2) for w in widths) + "┘"

    out: list[str] = []
    total = 0
    if mono:
        kept: list[list[list[str]]] = []
        for b in blocks:
            if total < pmax:
                kept.append([cells_of(r) for r in b])
            total += len(b)
        if kept:
            widths = widths_of([cr for blk in kept for cr in blk])
            out.extend(header_lines(widths))
            count = 0
            for blk in kept:
                for cr in blk:
                    if count >= pmax:
                        break
                    out.append(row_line(cr, widths))
                    count += 1
            bl = bottom_line(widths)
            if bl:
                out.append(bl)
    else:
        for b in blocks:
            if total >= pmax:
                total += len(b)
                continue
            cell_rows = [cells_of(r) for r in b]
            widths = widths_of(cell_rows)
            out.extend(header_lines(widths))
            for i, cr in enumerate(cell_rows):
                if total + i >= pmax:
                    break
                if style == "full" and i != 0:
                    out.append(
                        "├" + "┼".join("─" * (w + 2) for w in widths) + "┤"
                    )
                out.append(row_line(cr, widths))
            bl = bottom_line(widths)
            if bl:
                out.append(bl)
            total += len(b)
    if total >= pmax and total > 0:
        if style == "space":
            out.append(f"\nShowed first {pmax}.")
        else:
            out.append(f"  Showed first {pmax}.")
    if not out:
        return ""
    return "\n".join(out) + "\n"


def _vertical(names: list[str], rows, types, raw: bool) -> str:
    """Vertical / VerticalRaw (VerticalRowOutputStream.cpp): per-row
    'Row N:' + dash rule sized log10(N+1)+1+5, 'name: ' labels padded
    to the widest name, escaped (or raw) values, blank line between
    rows."""
    import math

    name_cells = [_tsv_cell(n) for n in names]
    maxw = max((len(nc) for nc in name_cells), default=0)
    pads = [(nc + ": ").ljust(maxw + 2) for nc in name_cells]
    out: list[str] = []
    for idx, r in enumerate(rows, 1):
        if idx > 1:
            out.append("")
        out.append(f"Row {idx}:")
        out.append("─" * (int(math.log10(idx + 1)) + 1 + 5))
        for i, (pad, t) in enumerate(zip(pads, types)):
            v = _f32(r[i], t)
            out.append(pad + (_cell(v) if raw else _tsv_cell(v)))
    if not out:
        return ""
    return "\n".join(out) + "\n"


def _csv_quote(s: str) -> str:
    return '"' + s.replace('"', '""') + '"'


def _csv_fields(v, spark_type: str) -> list[str]:
    """serializeTextCSV per type (IO/WriteHelpers.h writeCSVString +
    DataType*::serializeTextCSV): strings/dates/arrays double-quoted
    with quote doubling (real newlines kept), numbers bare, and a
    Tuple flattens into one CSV field per element
    (DataTypeTuple::serializeTextCSV)."""
    import datetime as _dt

    from pyspark.sql import Row

    if v is None:
        return ["\\N"]
    if isinstance(v, Row):
        return [p for x in v for p in _csv_fields(x, "")]
    if isinstance(v, bool):
        return ["1" if v else "0"]
    if isinstance(v, float):
        return [_ch_float(_f32(v, spark_type))]
    import decimal as _dec

    if isinstance(v, (int, _dec.Decimal)):
        return [str(v)]
    if isinstance(v, (_dt.date, _dt.datetime)):
        return [_csv_quote(_ch_date_text(v))]
    if isinstance(v, (list, tuple)):
        return [_csv_quote(_ch_composite(v))]
    return [_csv_quote(str(v))]


def _ch_date_text(v) -> str:
    """Date/DateTime text form.  The zero value (epoch) prints as
    0000-00-00 — CH stores Date as days-since-epoch and renders 0
    specially (IO/WriteHelpers.h writeDateText), so 1970-01-01 is
    indistinguishable from the zero date there too."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        naive = v.replace(tzinfo=None)
        if naive == _dt.datetime(1970, 1, 1):
            return "0000-00-00 00:00:00"
        return naive.strftime("%Y-%m-%d %H:%M:%S")
    if v == _dt.date(1970, 1, 1):
        return "0000-00-00"
    return v.isoformat()


def _cell(v) -> str:
    import datetime as _dt

    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        return _ch_float(v)
    if isinstance(v, (_dt.date, _dt.datetime)):
        return _ch_date_text(v)
    # Row subclasses tuple — check it first so structs render (…)
    from pyspark.sql import Row

    if isinstance(v, Row):
        return _ch_composite(tuple(v), parens=True)
    if isinstance(v, (list, tuple)):
        return _ch_composite(v)
    # BINARY values (e.g. convertCharset output): render the bytes as
    # text — valid UTF-8 passes through, anything else is lossy anyway
    # in a text format
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("utf-8", errors="replace")
    return str(v)


def _ch_float(v: float) -> str:
    """Float text like the reference's writeFloatText
    (IO/WriteHelpers.h, double-conversion ToShortest): shortest
    roundtrip digits, FIXED notation while the decimal point position
    is in (-6, 21], scientific outside with a bare exponent
    (1.9e-06 prints 0.0000019…, 1.9e21 prints 1.9e21); nan/inf by
    name."""
    if v != v:
        return "nan"
    if v == float("inf"):
        return "inf"
    if v == float("-inf"):
        return "-inf"
    # copysign catches -0.0, which compares equal to 0 but prints "-0"
    neg = math.copysign(1.0, v) < 0
    s = repr(abs(v))
    if "e" in s:
        mant, _, e = s.partition("e")
        exp = int(e)
        ip, _, fp = mant.partition(".")
        digits = ip + fp
        dp = exp + len(ip)
    elif "." in s:
        ip, fp = s.split(".")
        if ip == "0":
            stripped = fp.lstrip("0")
            digits = stripped
            dp = -(len(fp) - len(stripped))
        else:
            digits = ip + fp
            dp = len(ip)
    else:
        digits = s
        dp = len(s)
    digits = digits.rstrip("0") or "0"
    if digits == "0":
        return "-0" if neg else "0"
    if -6 < dp <= 21:
        if dp <= 0:
            out = "0." + "0" * (-dp) + digits
        elif dp >= len(digits):
            out = digits + "0" * (dp - len(digits))
        else:
            out = digits[:dp] + "." + digits[dp:]
    else:
        m = digits[0] + ("." + digits[1:] if len(digits) > 1 else "")
        out = f"{m}e{dp - 1}"
    return "-" + out if neg else out


def _ch_composite(v, parens: bool = False) -> str:
    """Array/tuple text form (DataTypeArray/DataTypeTuple text serde):
    no spaces, strings single-quoted with backslash escapes."""
    inner = ",".join(_ch_nested(x) for x in v)
    return f"({inner})" if parens else f"[{inner}]"


def _ch_nested(x) -> str:
    import datetime as _dt

    if isinstance(x, (_dt.date, _dt.datetime)):
        # dates/datetimes quote like strings inside composites
        # (DataTypeDate::serializeTextQuoted)
        return f"'{_ch_date_text(x)}'"
    if isinstance(x, str):
        esc = (
            x.replace("\\", "\\\\")
            .replace("'", "\\'")
            .replace("\t", "\\t")
            .replace("\n", "\\n")
            .replace("\r", "\\r")
            .replace("\x00", "\\0")
            .replace("\b", "\\b")
            .replace("\f", "\\f")
        )
        return f"'{esc}'"
    if x is None:
        return "NULL"
    return _cell(x)


def _u64v(v, ch_t):
    """UInt64-typed BIGINT bit pattern → the unsigned value for text
    output (columns stored as signed longs print the full u64 range —
    e.g. cityHash64 DEFAULT fills, golden 00253)."""
    if (
        isinstance(v, int)
        and not isinstance(v, bool)
        and v < 0
        and ch_t
    ):
        t = str(ch_t)
        if t.startswith("Nullable("):
            t = t[9:-1]
        if t == "UInt64":
            return v + (1 << 64)
    return v


def _f32(v, spark_type: str):
    """Float32 columns print with FLOAT precision (the reference's
    shortest-roundtrip Float32 text, WriteHelpers writeFloatText):
    21.99f must render 21.99, not the double-widened
    21.989999771118164."""
    if spark_type == "float" and isinstance(v, float):
        try:
            import numpy as _np

            return float(repr(_np.float32(v)))
        except Exception:
            return v
    if (
        spark_type == "array<float>"
        and isinstance(v, list)
    ):
        try:
            import numpy as _np

            return [
                float(repr(_np.float32(x))) if isinstance(x, float) else x
                for x in v
            ]
        except Exception:
            return v
    return v


def _tsv_cell(v) -> str:
    """TabSeparated escapes embedded separators in string values
    (IO/WriteHelpers.h writeEscapedString = writeAnyEscapedString<'\\''>:
    \\, tab, newline, AND single quotes) — without this a value
    containing a tab corrupts the column structure, and a quote
    diverges from the reference's byte output."""
    s = _cell(v)
    if isinstance(v, str):
        s = (
            s.replace("\\", "\\\\")
            .replace("'", "\\'")
            .replace("\t", "\\t")
            .replace("\n", "\\n")
            .replace("\r", "\\r")
            .replace("\x00", "\\0")
            .replace("\b", "\\b")
            .replace("\f", "\\f")
        )
    return s


def _resolve_ch_names(ch_names: list | None, names: list[str]) -> list[str]:
    """Per-column CH display name with Spark-name fallback."""
    if ch_names is None or len(ch_names) != len(names):
        return list(names)
    return [c if c is not None else n for c, n in zip(ch_names, names)]


def _json_escape(s: str) -> str:
    """writeJSONString (IO/WriteHelpers.h:156): escapes the JSON set
    plus '/' and renders control chars as \\uXXXX."""
    s = _valid_utf8(s)
    out = []
    for ch in s:
        if ch == "\b":
            out.append("\\b")
        elif ch == "\f":
            out.append("\\f")
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\r":
            out.append("\\r")
        elif ch == "\t":
            out.append("\\t")
        elif ch == "\\":
            out.append("\\\\")
        elif ch == "/":
            out.append("\\/")
        elif ch == '"':
            out.append('\\"')
        elif ord(ch) <= 0x1F:
            out.append(f"\\u{ord(ch):04X}")
        else:
            out.append(ch)
    return '"' + "".join(out) + '"'


def _ch_inner_types(ch_t: str | None, outer: str) -> list[str] | None:
    """Element type(s) of Array(...)/Tuple(...)/Nullable(...) CH text."""
    if ch_t is None or not ch_t.startswith(outer + "(") or not ch_t.endswith(")"):
        return None
    inner = ch_t[len(outer) + 1 : -1]
    parts, depth, cur = [], 0, []
    for c in inner:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
    parts.append("".join(cur).strip())
    return parts


def _json_value(v, ch_t: str | None, quote64: bool) -> str:
    """serializeTextJSON analog, driven by the CH type text."""
    import datetime
    from decimal import Decimal

    base = ch_t
    nul = _ch_inner_types(ch_t, "Nullable")
    if nul:
        base = nul[0]
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, datetime.datetime):
        return '"' + v.strftime("%Y-%m-%d %H:%M:%S") + '"'
    if isinstance(v, datetime.date):
        return '"' + v.strftime("%Y-%m-%d") + '"'
    if isinstance(v, Decimal):
        s = str(int(v))
        return f'"{s}"' if quote64 else s
    if isinstance(v, int):
        if base in ("UInt64", "Int64") and quote64:
            return f'"{v}"'
        return str(v)
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return "null"
        return _ch_float(v)
    if isinstance(v, str):
        return _json_escape(v)
    if isinstance(v, (list, tuple)):
        tup = _ch_inner_types(base, "Tuple")
        if tup or hasattr(v, "__fields__"):
            vals = list(v)
            ets = tup if tup and len(tup) == len(vals) else [None] * len(vals)
            return "[" + ",".join(
                _json_value(x, t, quote64) for x, t in zip(vals, ets)
            ) + "]"
        elems = _ch_inner_types(base, "Array")
        et = elems[0] if elems else None
        return "[" + ",".join(_json_value(x, et, quote64) for x in v) + "]"
    return _json_escape(str(v))


def _render_json(
    names: list[str],
    rows: list,
    fields,
    ch_types: list,
    compact: bool,
    totals: bool,
    quote64: bool,
    rows_before_limit: int | None,
    forced_default_cols: set | None = None,
    ext_pairs: list | None = None,
) -> str:
    """Byte-exact JSON / JSONCompact writer
    (DataStreams/JSONRowOutputStream.cpp:40-166 /
    JSONCompactRowOutputStream.cpp; statistics omitted — goldens run
    with output_format_write_statistics = 0)."""
    qnames = [_json_escape(n) for n in names]
    ncol = len(names)
    trow = None
    body = rows
    if totals and rows:
        body, trow = rows[:-1], rows[-1]

    out = ["{\n", '\t"meta":\n', "\t[\n"]
    for i in range(ncol):
        out.append("\t\t{\n")
        out.append(f'\t\t\t"name": {qnames[i]},\n')
        out.append(f'\t\t\t"type": {_json_escape(ch_types[i])}\n')
        out.append("\t\t}")
        if i + 1 < ncol:
            out.append(",")
        out.append("\n")
    out.append("\t],\n\n")
    out.append('\t"data":\n\t[\n')
    for rn, r in enumerate(body):
        if rn > 0:
            out.append(",\n")
        if compact:
            out.append("\t\t[")
            out.append(", ".join(
                _json_value(r[i], ch_types[i], quote64) for i in range(ncol)
            ))
            out.append("]")
        else:
            out.append("\t\t{\n")
            out.append(",\n".join(
                f"\t\t\t{qnames[i]}: {_json_value(r[i], ch_types[i], quote64)}"
                for i in range(ncol)
            ))
            out.append("\n\t\t}")
    out.append("\n\t]")
    if trow is not None:
        forced = forced_default_cols or set()
        tvals = [
            _totals_default(
                None
                if i in forced
                and not fields[i].dataType.simpleString().startswith("struct")
                else trow[i],
                fields[i].dataType.simpleString(),
            )
            for i in range(ncol)
        ]
        if compact:
            out.append(',\n\n\t"totals": [')
            out.append(",".join(
                _json_value(tvals[i], ch_types[i], quote64) for i in range(ncol)
            ))
            out.append("]")
        else:
            out.append(',\n\n\t"totals":\n\t{\n')
            out.append(",\n".join(
                f"\t\t{qnames[i]}: {_json_value(tvals[i], ch_types[i], quote64)}"
                for i in range(ncol)
            ))
            out.append("\n\t}")
    if ext_pairs is not None:
        out.append(',\n\n\t"extremes":\n\t{\n')
        for which, k in (("min", 0), ("max", 1)):
            if compact:
                out.append(f'\t\t"{which}": [')
                out.append(",".join(
                    _json_value(ext_pairs[i][k], ch_types[i], quote64)
                    for i in range(ncol)
                ))
                out.append("]")
            else:
                out.append(f'\t\t"{which}":\n\t\t{{\n')
                out.append(",\n".join(
                    f"\t\t\t{qnames[i]}: "
                    f"{_json_value(ext_pairs[i][k], ch_types[i], quote64)}"
                    for i in range(ncol)
                ))
                out.append("\n\t\t}")
            if which == "min":
                out.append(",\n")
        out.append("\n\t}")
    out.append(f',\n\n\t"rows": {len(body)}')
    if rows_before_limit is not None:
        out.append(f',\n\n\t"rows_before_limit_at_least": {rows_before_limit}')
    out.append("\n}\n")
    return "".join(out)


def _xml_escape(s: str) -> str:
    """writeXMLString (IO/WriteHelpers.h:435): only '<' and '&'.
    The XML stream passes through WriteBufferValidUTF8 first."""
    return _valid_utf8(s).replace("&", "&amp;").replace("<", "&lt;")


def _xml_value(v) -> str:
    """serializeTextXML analog: arrays/tuples nest <array>/<tuple> with
    <elem> children (DataTypeArray.cpp:334, DataTypeTuple)."""
    import datetime

    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, float):
        return _ch_float(v)
    if isinstance(v, str):
        return _xml_escape(v)
    if isinstance(v, (list, tuple)):
        tag = "tuple" if hasattr(v, "__fields__") else "array"
        inner = "".join(f"<elem>{_xml_value(x)}</elem>" for x in v)
        return f"<{tag}>{inner}</{tag}>"
    return _xml_escape(str(v))


def _xml_tag(name: str) -> str:
    """Column tag: the name when alnum/_-. and not digit-led, else
    'field' (XMLRowOutputStream.cpp:22-43)."""
    ok = bool(name) and all(
        c.isascii() and (c.isalpha() or (i > 0 and c.isdigit()) or c in "_-.")
        for i, c in enumerate(name)
    )
    return name if ok else "field"


def _render_xml(
    names: list[str],
    rows: list,
    ch_types: list,
    totals: bool,
    forced_default_cols: set,
    ext_pairs: list | None,
    rows_before_limit: int | None,
    fields,
) -> str:
    """Byte-exact XML writer (DataStreams/XMLRowOutputStream.cpp;
    statistics omitted — goldens set output_format_write_statistics=0)."""
    ncol = len(names)
    tags = [_xml_tag(n) for n in names]
    trow = None
    body = rows
    if totals and rows:
        body, trow = rows[:-1], rows[-1]
    out = ["<?xml version='1.0' encoding='UTF-8' ?>\n"]
    out.append("<result>\n\t<meta>\n\t\t<columns>\n")
    for i in range(ncol):
        out.append("\t\t\t<column>\n")
        out.append(f"\t\t\t\t<name>{_xml_escape(names[i])}</name>\n")
        out.append(f"\t\t\t\t<type>{_xml_escape(ch_types[i])}</type>\n")
        out.append("\t\t\t</column>\n")
    out.append("\t\t</columns>\n\t</meta>\n\t<data>\n")
    for r in body:
        out.append("\t\t<row>\n")
        for i in range(ncol):
            out.append(f"\t\t\t<{tags[i]}>{_xml_value(r[i])}</{tags[i]}>\n")
        out.append("\t\t</row>\n")
    out.append("\t</data>\n")
    if trow is not None:
        out.append("\t<totals>\n")
        for i in range(ncol):
            st = fields[i].dataType.simpleString()
            v = _totals_default(
                None if i in forced_default_cols and not st.startswith("struct")
                else trow[i],
                st,
            )
            out.append(f"\t\t<{tags[i]}>{_xml_value(v)}</{tags[i]}>\n")
        out.append("\t</totals>\n")
    if ext_pairs is not None:
        out.append("\t<extremes>\n")
        for which, k in (("min", 0), ("max", 1)):
            out.append(f"\t\t<{which}>\n")
            for i in range(ncol):
                out.append(
                    f"\t\t\t<{tags[i]}>{_xml_value(ext_pairs[i][k])}</{tags[i]}>\n"
                )
            out.append(f"\t\t</{which}>\n")
        out.append("\t</extremes>\n")
    out.append(f"\t<rows>{len(body)}</rows>\n")
    if rows_before_limit is not None:
        out.append(
            f"\t<rows_before_limit_at_least>{rows_before_limit}"
            "</rows_before_limit_at_least>\n"
        )
    out.append("</result>\n")
    return "".join(out)


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "\\'") + "'"
    return str(v)


# ------------------------------------------------------- RowBinary

_RB_INT = {
    "UInt8": (1, False), "UInt16": (2, False), "UInt32": (4, False),
    "UInt64": (8, False), "Int8": (1, True), "Int16": (2, True),
    "Int32": (4, True), "Int64": (8, True),
}


def _rb_varint(out: bytearray, n: int) -> None:
    """LEB128 unsigned varint (IO/VarInt.h writeVarUInt)."""
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _rb_value(out: bytearray, v, ch_t: str) -> None:
    """One value in RowBinary (DataType*::serializeBinary): fixed-width
    little-endian numerics, Date as u16 days, DateTime as u32 unix
    seconds, String as varint length + bytes, Array as varint size +
    elements, Tuple as its elements back to back."""
    import datetime as _dt
    import struct as _struct
    from decimal import Decimal as _Dec

    t = ch_t.strip()
    if t.startswith("Nullable("):
        # null flag byte precedes the value; a set flag is the WHOLE
        # encoding — no payload follows (DataTypeNullable::serializeBinary
        # writes the nested value only when !is_null)
        if v is None:
            out.append(1)
            return
        out.append(0)
        t = t[9:-1]
    if t.startswith("Array("):
        elems = list(v or [])
        _rb_varint(out, len(elems))
        inner = t[6:-1]
        for e in elems:
            _rb_value(out, e, inner)
        return
    if t.startswith("Tuple("):
        inners = _ch_inner_types(t, "Tuple") or []
        vals = list(v) if v is not None else [None] * len(inners)
        for e, it in zip(vals, inners):
            _rb_value(out, e, it)
        return
    if t in _RB_INT:
        w, signed = _RB_INT[t]
        n = int(v if not isinstance(v, _Dec) else int(v)) if v is not None else 0
        n &= (1 << (8 * w)) - 1
        out += n.to_bytes(w, "little")
        return
    if t == "Float64":
        out += _struct.pack("<d", float(v) if v is not None else 0.0)
        return
    if t == "Float32":
        out += _struct.pack("<f", float(v) if v is not None else 0.0)
        return
    if t == "Date":
        days = (v - _dt.date(1970, 1, 1)).days if isinstance(v, _dt.date) else int(v or 0)
        out += (days & 0xFFFF).to_bytes(2, "little")
        return
    if t == "DateTime":
        if isinstance(v, _dt.datetime):
            secs = int(v.replace(tzinfo=_dt.timezone.utc).timestamp())
        else:
            secs = int(v or 0)
        out += (secs & 0xFFFFFFFF).to_bytes(4, "little")
        return
    if t.startswith("FixedString("):
        n = int(t[len("FixedString("):-1])
        b = (v or "").encode("utf-8", "surrogateescape") if isinstance(v, str) else bytes(v or b"")
        out += b[:n].ljust(n, b"\0")
        return
    if t.startswith("Enum"):
        # stored name -> declared value, 8/16-bit (DataTypeEnum)
        from ..dialect.statements import _enum_pairs

        w = 1 if t.startswith("Enum8") else 2
        val = dict(_enum_pairs(t)).get(v, 0)
        out += (int(val) & ((1 << (8 * w)) - 1)).to_bytes(w, "little")
        return
    # String and anything rendered textually
    if isinstance(v, (bytes, bytearray)):
        b = bytes(v)
    elif isinstance(v, str):
        b = v.encode("utf-8", "surrogateescape")
    else:
        b = _cell(v).encode("utf-8", "surrogateescape")
    _rb_varint(out, len(b))
    out += b


def _render_rowbinary(rows, types: list[str], ch_types: list) -> str:
    """FORMAT RowBinary: rows back to back, no header/separators
    (RowBinaryRowOutputStream.cpp).  Returned as a surrogateescape str
    so the golden runner's text comparison sees the exact bytes."""
    out = bytearray()
    for r in rows:
        for i, (st, ct) in enumerate(zip(types, ch_types)):
            _rb_value(out, r[i], ct or ch_type_of_spark(st))
    return bytes(out).decode("utf-8", "surrogateescape")


def parse_rowbinary(data: bytes, ch_types: list[str]):
    """Parse FORMAT RowBinary bytes into rows — the reader twin of
    ``_render_rowbinary`` (RowBinaryRowInputStream.cpp): values back
    to back in row order, each decoded by its column's CH type.
    RowBinary carries no schema, so ``ch_types`` (the target table's
    insert-block types, in order) drives the decode."""
    import struct as _struct

    pos = 0

    def varint() -> int:
        nonlocal pos
        shift = n = 0
        while True:
            b = data[pos]
            pos += 1
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                return n
            shift += 7

    def rd_value(ch_t: str):
        nonlocal pos
        t = ch_t.strip()
        if t.startswith("Nullable("):
            # flag=1 is the whole encoding — no nested payload follows
            # (DataTypeNullable::deserializeBinary only reads the nested
            # value when the flag byte is 0)
            isnull = data[pos]
            pos += 1
            if isnull:
                return None
            return rd_value(t[9:-1])
        if t.startswith("Array("):
            n = varint()
            inner = t[6:-1]
            return [rd_value(inner) for _ in range(n)]
        if t.startswith("Tuple("):
            inners = _ch_inner_types(t, "Tuple") or []
            return tuple(rd_value(it) for it in inners)
        if t in _RB_INT:
            w, signed = _RB_INT[t]
            v = int.from_bytes(data[pos:pos + w], "little", signed=signed)
            pos += w
            return v
        if t in ("Float64", "Float32"):
            w, f = (8, "<d") if t == "Float64" else (4, "<f")
            v = _struct.unpack(f, data[pos:pos + w])[0]
            pos += w
            return v
        if t == "Date":
            v = int.from_bytes(data[pos:pos + 2], "little")
            pos += 2
            return v
        if t == "DateTime":
            v = int.from_bytes(data[pos:pos + 4], "little")
            pos += 4
            return v
        if t.startswith("FixedString("):
            w = int(t[len("FixedString("):-1])
            v = data[pos:pos + w].decode("utf-8", "surrogateescape")
            pos += w
            return v
        if t.startswith("Enum"):
            from ..dialect.statements import _enum_pairs

            w = 1 if t.startswith("Enum8") else 2
            raw = int.from_bytes(data[pos:pos + w], "little", signed=True)
            pos += w
            rev = {val: nm for nm, val in _enum_pairs(t)}
            return rev.get(raw, raw)
        # String (and textually-rendered fallbacks)
        ln = varint()
        v = data[pos:pos + ln].decode("utf-8", "surrogateescape")
        pos += ln
        return v

    rows: list[tuple] = []
    while pos < len(data):
        rows.append(tuple(rd_value(t) for t in ch_types))
    return rows


# --------------------------------------------------------- Native

def _native_default(ch_t: str):
    """Type default filled under a Nullable null marker
    (serializeBinaryBulk writes the nested column including the
    placeholder value at null positions)."""
    t = ch_t.strip()
    if t.startswith("Array("):
        return []
    if t in ("String",) or t.startswith("FixedString") or t.startswith("Enum"):
        return ""
    if t in ("Date", "DateTime"):
        return 0
    if t.startswith("Float"):
        return 0.0
    return 0


def _native_bulk(out: bytearray, vals: list, ch_t: str) -> None:
    """Column-wise binary bulk, NativeBlockOutputStream::writeData /
    IDataType::serializeBinaryBulk: Nullable = UInt8 null map then the
    nested column; Array = cumulative UInt64 offsets then the flattened
    nested column; Tuple = element columns in sequence
    (DataTypeTuple::serializeBinaryBulk); scalars = the same per-value
    encodings as RowBinary, column-contiguous."""
    t = ch_t.strip()
    if t.startswith("Nullable("):
        inner = t[9:-1]
        for v in vals:
            out.append(1 if v is None else 0)
        _native_bulk(
            out,
            [v if v is not None else _native_default(inner) for v in vals],
            inner,
        )
        return
    if t.startswith("Array("):
        inner = t[6:-1]
        running = 0
        flat: list = []
        for v in vals:
            elems = list(v or [])
            running += len(elems)
            out += running.to_bytes(8, "little")
            flat.extend(elems)
        _native_bulk(out, flat, inner)
        return
    if t.startswith("Tuple("):
        inners = _ch_inner_types(t, "Tuple") or []
        for idx, it in enumerate(inners):
            _native_bulk(
                out,
                [
                    (list(v)[idx] if v is not None else None)
                    for v in vals
                ],
                it,
            )
        return
    for v in vals:
        _rb_value(out, v, t)


def _native_string(out: bytearray, s: str) -> None:
    b = s.encode("utf-8", "surrogateescape")
    _rb_varint(out, len(b))
    out += b


def _render_native(
    rows,
    names: list[str],
    types: list[str],
    ch_types: list,
    block_rows: list | None = None,
) -> str:
    """FORMAT Native — the reference's columnar wire format
    (NativeBlockOutputStream.cpp::write, client_revision 0 so no block
    info header): per block, varint column count + varint row count,
    then per column its name, its CH type name, and the column-wise
    binary bulk.  One block per recorded stream block when the block
    structure is known, else a single block."""
    sizes = list(block_rows or ())
    if not sizes or sum(sizes) != len(rows):
        sizes = [len(rows)] if rows else []
    if not rows:
        sizes = [0]  # a single empty block still writes the header
    out = bytearray()
    pos = 0
    for n in sizes:
        chunk = rows[pos:pos + n]
        pos += n
        _rb_varint(out, len(names))
        _rb_varint(out, len(chunk))
        for i, (name, st, ct) in enumerate(zip(names, types, ch_types)):
            _native_string(out, name)
            cht = ct or ch_type_of_spark(st)
            _native_string(out, cht)
            if chunk:  # zero rows => zero bytes of data
                _native_bulk(out, [r[i] for r in chunk], cht)
    return bytes(out).decode("utf-8", "surrogateescape")


def spark_ingest_type(ch_t: str):
    """(spark DDL, python-value converter) for one parsed wire-format
    CH type — bridges ``parse_native``/``parse_rowbinary`` output
    (raw ints for Date/DateTime, surrogateescape strings) to a
    ``createDataFrame``-ready shape.  The INSERT pipeline then CASTs
    to the target table's declared Spark types."""
    import datetime as _dt
    from decimal import Decimal as _Dec

    t = ch_t.strip()
    if t.startswith("Nullable("):
        ddl, conv = spark_ingest_type(t[9:-1])
        return ddl, (lambda v, c=conv: None if v is None else c(v))
    if t.startswith("Array("):
        ddl, conv = spark_ingest_type(t[6:-1])
        return f"ARRAY<{ddl}>", (
            lambda v, c=conv: None if v is None else [c(e) for e in v]
        )
    if t.startswith("Tuple("):
        inners = [spark_ingest_type(it) for it in (_ch_inner_types(t, "Tuple") or [])]
        ddl = "STRUCT<" + ", ".join(
            f"`_{i+1}`: {d}" for i, (d, _c) in enumerate(inners)
        ) + ">"
        return ddl, (
            lambda v, cs=[c for _d, c in inners]:
            None if v is None else tuple(c(e) for c, e in zip(cs, v))
        )
    if t == "UInt64":
        # full-range UInt64 is DECIMAL(20,0) in this engine
        return "DECIMAL(20,0)", lambda v: _Dec(int(v))
    if t in _RB_INT:
        return "BIGINT", lambda v: int(v)
    if t in ("Float64", "Float32"):
        return "DOUBLE", lambda v: float(v)
    if t == "Date":
        return "DATE", lambda v: _dt.date(1970, 1, 1) + _dt.timedelta(days=int(v))
    if t == "DateTime":
        # naive UTC — the engine pins spark.sql.session.timeZone=UTC
        return "TIMESTAMP", lambda v: _dt.datetime(1970, 1, 1) + _dt.timedelta(
            seconds=int(v)
        )
    return "STRING", lambda v: v if isinstance(v, str) else _cell(v)


def _skip_varint(data: bytes, pos: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = data[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7


def _skip_bulk(data: bytes, pos: int, ch_t: str, n: int) -> int:
    """Advance ``pos`` past a serialized bulk column WITHOUT
    materializing values — fixed-width types skip in O(1); only
    varint-length strings walk per row.  The skip twin of
    ``parse_native``'s rd_bulk, used to find block boundaries."""
    t = ch_t.strip()
    if t.startswith("Nullable("):
        # null map (n bytes) then the nested column INCLUDING
        # placeholder values at null positions (serializeBinaryBulk)
        return _skip_bulk(data, pos + n, t[9:-1], n)
    if t.startswith("Array("):
        total = (
            int.from_bytes(data[pos + 8 * (n - 1):pos + 8 * n], "little")
            if n else 0
        )
        return _skip_bulk(data, pos + 8 * n, t[6:-1], total)
    if t.startswith("Tuple("):
        for it in _ch_inner_types(t, "Tuple") or []:
            pos = _skip_bulk(data, pos, it, n)
        return pos
    if t in _RB_INT:
        return pos + _RB_INT[t][0] * n
    if t == "Float64":
        return pos + 8 * n
    if t == "Float32":
        return pos + 4 * n
    if t == "Date":
        return pos + 2 * n
    if t == "DateTime":
        return pos + 4 * n
    if t.startswith("FixedString("):
        return pos + int(t[len("FixedString("):-1]) * n
    if t.startswith("Enum"):
        return pos + (1 if t.startswith("Enum8") else 2) * n
    # String
    for _ in range(n):
        ln, pos = _skip_varint(data, pos)
        pos += ln
    return pos


def scan_native_blocks(data: bytes) -> list[tuple[int, int, int]]:
    """(offset, length, n_rows) of every block in a FORMAT Native
    stream — a boundary scan only (no row materialization), so a
    driver or a per-file executor task can split a multi-block dump
    into independently-decodable spans (each block is self-describing:
    NativeBlockInputStream::readImpl re-reads names/types per block)."""
    spans: list[tuple[int, int, int]] = []
    pos = 0
    while pos < len(data):
        start = pos
        n_cols, pos = _skip_varint(data, pos)
        n_rows, pos = _skip_varint(data, pos)
        for _ in range(n_cols):
            ln, pos = _skip_varint(data, pos)     # column name
            pos += ln
            ln, pos = _skip_varint(data, pos)     # column type (needed)
            ch_t = data[pos:pos + ln].decode("utf-8", "surrogateescape")
            pos += ln
            if n_rows:
                pos = _skip_bulk(data, pos, ch_t, n_rows)
        spans.append((start, pos - start, n_rows))
    return spans


def parse_native(data: bytes, with_blocks: bool = False):
    """Parse FORMAT Native bytes back into (names, ch_types, rows) —
    NativeBlockInputStream::readImpl.  Used for INSERT FORMAT Native
    payloads and as the writer's roundtrip check.  With
    ``with_blocks=True`` also returns the per-block row counts (block
    structure is semantic for stored tables — blockSize() replay)."""
    import struct as _struct

    pos = 0

    def varint():
        nonlocal pos
        shift = n = 0
        while True:
            b = data[pos]
            pos += 1
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                return n
            shift += 7

    def rd_str():
        nonlocal pos
        ln = varint()
        s = data[pos:pos + ln].decode("utf-8", "surrogateescape")
        pos += ln
        return s

    def rd_bulk(ch_t: str, n: int) -> list:
        nonlocal pos
        t = ch_t.strip()
        if t.startswith("Nullable("):
            nulls = [data[pos + i] for i in range(n)]
            pos += n
            nested = rd_bulk(t[9:-1], n)
            return [None if nl else v for nl, v in zip(nulls, nested)]
        if t.startswith("Array("):
            offs = []
            for _ in range(n):
                offs.append(int.from_bytes(data[pos:pos + 8], "little"))
                pos += 8
            total = offs[-1] if offs else 0
            flat = rd_bulk(t[6:-1], total)
            res, prev = [], 0
            for o in offs:
                res.append(flat[prev:o])
                prev = o
            return res
        if t.startswith("Tuple("):
            inners = _ch_inner_types(t, "Tuple") or []
            cols = [rd_bulk(it, n) for it in inners]
            return [tuple(c[i] for c in cols) for i in range(n)]
        if t in _RB_INT:
            w, signed = _RB_INT[t]
            vals = []
            for _ in range(n):
                vals.append(
                    int.from_bytes(data[pos:pos + w], "little", signed=signed)
                )
                pos += w
            return vals
        if t in ("Float64", "Float32"):
            w, f = (8, "<d") if t == "Float64" else (4, "<f")
            vals = []
            for _ in range(n):
                vals.append(_struct.unpack(f, data[pos:pos + w])[0])
                pos += w
            return vals
        if t == "Date":
            vals = []
            for _ in range(n):
                vals.append(int.from_bytes(data[pos:pos + 2], "little"))
                pos += 2
            return vals
        if t == "DateTime":
            vals = []
            for _ in range(n):
                vals.append(int.from_bytes(data[pos:pos + 4], "little"))
                pos += 4
            return vals
        if t.startswith("FixedString("):
            w = int(t[len("FixedString("):-1])
            vals = []
            for _ in range(n):
                vals.append(
                    data[pos:pos + w].decode("utf-8", "surrogateescape")
                )
                pos += w
            return vals
        if t.startswith("Enum"):
            w = 1 if t.startswith("Enum8") else 2
            from ..dialect.statements import _enum_pairs

            rev = {val: nm for nm, val in _enum_pairs(t)}
            vals = []
            for _ in range(n):
                raw = int.from_bytes(
                    data[pos:pos + w], "little", signed=True
                )
                pos += w
                vals.append(rev.get(raw, raw))
            return vals
        # String
        vals = []
        for _ in range(n):
            ln = varint()
            vals.append(
                data[pos:pos + ln].decode("utf-8", "surrogateescape")
            )
            pos += ln
        return vals

    names: list[str] = []
    ch_types: list[str] = []
    rows: list[tuple] = []
    block_rows: list[int] = []
    while pos < len(data):
        n_cols = varint()
        n_rows = varint()
        cols: list[list] = []
        blk_names, blk_types = [], []
        for _ in range(n_cols):
            blk_names.append(rd_str())
            blk_types.append(rd_str())
            cols.append(rd_bulk(blk_types[-1], n_rows) if n_rows else [])
        if not names:
            names, ch_types = blk_names, blk_types
        block_rows.append(n_rows)
        rows.extend(
            tuple(c[i] for c in cols) for i in range(n_rows)
        )
    if with_blocks:
        return names, ch_types, rows, block_rows
    return names, ch_types, rows


# ------------------------------------------- byte-faithful collect

def _binary_ddl(dt) -> tuple[str, bool]:
    """Spark DDL for ``dt`` with every StringType replaced by BINARY.
    Returns (ddl, changed)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StringType):
        return "BINARY", True
    if isinstance(dt, T.ArrayType):
        inner, ch = _binary_ddl(dt.elementType)
        return f"ARRAY<{inner}>", ch
    if isinstance(dt, T.StructType):
        parts, ch = [], False
        for f in dt.fields:
            fd, fc = _binary_ddl(f.dataType)
            parts.append(f"`{f.name}`: {fd}")
            ch = ch or fc
        return "STRUCT<" + ", ".join(parts) + ">", ch
    if isinstance(dt, T.MapType):
        kd, kc = _binary_ddl(dt.keyType)
        vd, vc = _binary_ddl(dt.valueType)
        return f"MAP<{kd}, {vd}>", kc or vc
    return dt.simpleString(), False


def _b2s(v):
    """bytes → surrogateescape str, recursively — the renderers all
    operate on str; raw bytes round-trip through the surrogates."""
    from pyspark.sql import Row

    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("utf-8", "surrogateescape")
    if isinstance(v, Row):
        vals = [_b2s(x) for x in v]
        try:
            return Row(*v.__fields__)(*vals)
        except Exception:
            return Row(*vals)
    if isinstance(v, list):
        return [_b2s(x) for x in v]
    if isinstance(v, dict):
        return {_b2s(k): _b2s(x) for k, x in v.items()}
    return v


def _collect_bytes_faithful(df, max_rows: int) -> list:
    """collect() with string columns cast to BINARY for the transfer:
    Spark's UTF8String holds arbitrary bytes JVM-side, but collect
    converts through java.lang.String and mangles invalid UTF-8 to
    U+FFFD.  The bytes come back as surrogateescape strs, so text
    writers emit the exact reference bytes (golden 00309
    reinterpretAsString over the full byte range)."""
    from pyspark.sql import functions as F

    from pyspark.sql import Row

    ddls = [_binary_ddl(f.dataType) for f in df.schema.fields]
    if not any(ch for _, ch in ddls):
        return df.limit(max_rows).collect()
    # positional rename first — output columns may share a name, which
    # would make name-based selection ambiguous (golden 00007)
    names = [f.name for f in df.schema.fields]
    tmp = [f"__bf{i}" for i in range(len(names))]
    casts = [
        F.col(t).cast(ddl).alias(t) if ch else F.col(t)
        for t, (ddl, ch) in zip(tmp, ddls)
    ]
    rows = df.toDF(*tmp).select(*casts).limit(max_rows).collect()
    mk = Row(*names)
    return [mk(*[_b2s(x) for x in r]) for r in rows]


_UTF8_SEQ_LEN = [1] * 0xC0 + [2] * 32 + [3] * 16 + [4] * 8 + [5] * 4 + [6] * 4


def _valid_utf8(s: str) -> str:
    """WriteBufferValidUTF8 with grouped replacements (the JSON*/XML
    output streams wrap one around the writer): each illegal UTF-8
    sequence start skips ONE byte, consecutive replacements collapse
    into a single U+FFFD (IO/WriteBufferValidUTF8.cpp)."""
    try:
        s.encode("utf-8")
        return s
    except UnicodeEncodeError:
        pass
    b = s.encode("utf-8", "surrogateescape")
    out: list[str] = []
    just_rep = False
    i, n = 0, len(b)
    while i < n:
        ln = _UTF8_SEQ_LEN[b[i]]
        ok = False
        if ln <= 4 and i + ln <= n:
            try:
                seq = b[i : i + ln].decode("utf-8")
                ok = True
            except UnicodeDecodeError:
                ok = False
        if ok:
            out.append(seq)
            just_rep = False
            i += ln
        else:
            if not just_rep:
                out.append("�")
                just_rep = True
            i += 1
    return "".join(out)
