"""Line readers + per-format parsers, Spark-native.

Each reference parser (`parse(line) -> LogEntry`, reference:
src/log_parser.h:51-57) becomes a DataFrame transform: a string column in,
typed columns out, everything JVM-side (`regexp_extract`, `from_json`,
`str_to_map`) — no Python in the hot path. Every parser emits a `_valid`
boolean instead of silently dropping bad rows (the reference drops them at
src/file_data_loader.cpp:766-777); `split_valid` routes rejects to a
dead-letter DataFrame.

Compressed sources (gzip/bz2 — reference: src/file_data_loader.cpp:93-116)
need no code: Hadoop codecs decompress `*.gz`/`*.bz2` in `spark.read.text`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MAX_LINE_BYTES = 1 << 20  # reference skips lines >= 1MB (file_data_loader.cpp:58,635-649)

# timestamp fallback chain — the union of the reference's format chains
# (src/csv_parser.cpp:58-76, src/json_parser.cpp:10-47, src/preprocessor.cpp:281-332)
TS_FORMATS = (
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm:ss.SSS",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy/MM/dd HH:mm:ss",
    "dd/MMM/yyyy:HH:mm:ss",
    "MMM d HH:mm:ss",
)

SYSLOG_SEVERITIES = ["emerg", "alert", "crit", "err", "warning", "notice", "info", "debug"]
SYSLOG_FACILITIES = [
    "kern", "user", "mail", "daemon", "auth", "syslog", "lpr", "news",
    "uucp", "cron", "authpriv", "ftp", "ntp", "audit", "alert", "clock",
    "local0", "local1", "local2", "local3", "local4", "local5", "local6", "local7",
]


def to_timestamp_multi(col, formats: tuple[str, ...] = TS_FORMATS):
    """coalesce(try_to_timestamp(c, f) for f in chain) — the Spark-native
    fallback-chain parse."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(*[F.try_to_timestamp(c, F.lit(f)) for f in formats])


def read_lines(spark: SparkSession, path: str, has_header: bool = False) -> DataFrame:
    """Line scan: empty-line skip + 1MB guard (reference:
    src/file_data_loader.cpp:594-666); header skip via zipWithIndex-free
    monotonic filter is unsound distributed — use read_csv for headered data."""
    df = spark.read.text(path)
    df = df.filter((F.length("value") > 0) & (F.octet_length("value") < MAX_LINE_BYTES))
    return df


def read_csv(spark: SparkSession, path: str, sep: str = ",", header: bool = True, schema=None) -> DataFrame:
    """CSV parse incl. quoted fields (reference: src/csv_parser.cpp:21-50,78-135)."""
    r = spark.read.option("sep", sep).option("header", header).option("quote", '"').option("escape", '"')
    if schema is not None:
        r = r.schema(schema)
    else:
        r = r.option("inferSchema", True)
    return r.csv(path)


def _strptime_to_spark(fmt: str) -> str:
    """Best-effort strptime → Spark datetime pattern conversion so configs
    written for the reference (std::get_time formats,
    src/csv_parser.cpp:58-76) work unchanged."""
    out = fmt
    for a, b in (
        ("%Y", "yyyy"), ("%m", "MM"), ("%d", "dd"),
        ("%H", "HH"), ("%M", "mm"), ("%S", "ss"), ("%f", "SSSSSS"),
        ("%b", "MMM"), ("%z", "XX"),
    ):
        out = out.replace(a, b)
    return out


def read_csv_dimensions(
    spark: SparkSession,
    path: str,
    dimensions: list[str],
    datetime_format: str | None = None,
    sep: str = ",",
    header: bool = False,
) -> DataFrame:
    """Config-driven positional dimension mapping (reference:
    src/csv_parser.cpp:83-97): CSV column i maps to `dimensions[i]`.
    Reserved roles: 'body' and 'severity' stay strings; 'timestamp' is
    parsed with `datetime_format` (strptime or Spark patterns; falls back
    to the multi-format chain when unset). Any other name becomes a named
    attribute column. CSV columns beyond the list are dropped (reference
    behavior). Entirely native CSV scan + projection — pushdown-friendly."""
    raw = spark.read.csv(path, sep=sep, header=header, inferSchema=False)
    cols = []
    for i, dim in enumerate(dimensions):
        if i >= len(raw.columns):
            break
        c = F.col(raw.columns[i])
        if dim == "timestamp":
            if datetime_format:
                spark_fmt = (
                    _strptime_to_spark(datetime_format)
                    if "%" in datetime_format
                    else datetime_format
                )
                c = F.to_timestamp(c, spark_fmt)
            else:
                c = to_timestamp_multi(c)
        cols.append(c.alias(dim))
    return raw.select(*cols)


def read_tsv(spark: SparkSession, path: str, header: bool = True, schema=None) -> DataFrame:
    """TSV = CSV with tab (reference: src/file_data_loader.cpp:696-698)."""
    return read_csv(spark, path, sep="\t", header=header, schema=schema)


def parse_jsonl(df: DataFrame, col: str = "value", schema: str | None = None) -> DataFrame:
    """JSONL parse with common-field sniff: message|msg, level|severity,
    timestamp|time (reference: src/json_parser.cpp:80-141). Non-core fields
    land in a string->string map (the reference stringifies scalars into its
    fields map, src/json_parser.cpp:126-134)."""
    j = F.col("_j")
    out = (
        df.withColumn("_j", F.col(col))
        .withColumn("message", F.coalesce(F.get_json_object(j, "$.message"), F.get_json_object(j, "$.msg")))
        .withColumn("level", F.coalesce(F.get_json_object(j, "$.level"), F.get_json_object(j, "$.severity")))
        .withColumn(
            "ts",
            to_timestamp_multi(
                F.coalesce(F.get_json_object(j, "$.timestamp"), F.get_json_object(j, "$.time"))
            ),
        )
        .withColumn("fields", F.from_json(j, "map<string,string>"))
        .withColumn("_valid", F.from_json(j, "map<string,string>").isNotNull())
        .drop("_j")
    )
    return out


_SEP = "\x01"  # group separator for one-pass extraction (see regex_groups_col)
_GROUPS_COL = "_gp"  # transient column parsers materialize the group array in


def regex_groups_col(c, pattern: str, n: int):
    """ONE-pass multi-group regex extraction: a Column holding
    array[group 1, ..., group n] (NULL array when the row doesn't match).

    `n` calls to `regexp_extract(c, pattern, i)` re-run the regex n times
    per row — and a parser's timestamp fallback chain references one group
    ~11 more times, each a fresh match. Instead ONE `regexp_replace`
    rewrites a matching line to its capture groups joined by a separator
    byte and a cheap `split` yields every group: 2 regex passes (rlike +
    replace) total. At 100 TB the grok stage is a pure scan bottleneck, so
    regex passes per row are the unit that matters.

    MUST be materialized as its own column (`df.withColumn(_GROUPS_COL,
    regex_groups_col(...))`) and referenced via `element_at` — inlining the
    expression into every field would recompute the replace per use
    (conditional branches defeat codegen subexpression elimination;
    measured 5.9 s vs 1.3 s on the syslog parse at sf0.1). CollapseProject
    keeps the dedicated projection because it refuses to duplicate a
    non-cheap expression with multiple consumers. Full syslog parse at
    100k rows: 2.1 s (per-group extracts) → 1.3 s.

    Exactness guards:
    - the pattern is wrapped `^[\\s\\S]*?(?:pat)[\\s\\S]*$` so the replace
      consumes the whole string around the FIRST match (lazy prefix = the
      position `regexp_extract`'s find() picks; non-capturing, so $1..$n
      still name the caller's groups). An unanchored pattern would
      otherwise be replaced at every occurrence with unmatched text left
      in place.
    - a row CONTAINING the separator byte (never seen in text logs, but
      semantics must not depend on that) takes a per-group regexp_extract
      slow path, evaluated only for those rows.
    - unmatched rows yield a NULL array → NULL every group (parsers
      nullif("") their fields anyway, so "" vs NULL never leaks).
    Equivalence to per-group extraction is pinned by
    test_regex_groups_matches_regexp_extract."""
    repl = _SEP.join(f"${i}" for i in range(1, n + 1))
    whole = r"^[\s\S]*?(?:" + pattern + r")[\s\S]*$"
    fast = F.split(
        F.when(c.rlike(pattern), F.regexp_replace(c, whole, repl)),
        _SEP,
        -1,  # keep trailing empty groups (e.g. an empty message)
    )
    slow = F.array(
        *[F.when(c.rlike(pattern), F.regexp_extract(c, pattern, i)) for i in range(1, n + 1)]
    )
    return F.when(c.contains(_SEP), slow).otherwise(fast)


_SYSLOG_RE = (
    r"^(?:<(\d{1,3})>)?"                                   # 1 pri
    r"(\w{3} [ \d]\d \d{2}:\d{2}:\d{2}|\d{4}-\d{2}-\d{2}T[\d:.]+(?:Z|[+-]\d{2}:?\d{2})?) "  # 2 ts
    r"(\S+) "                                              # 3 host
    r"([^:\[\]]+?)(?:\[(\d+)\])?: "                        # 4 program, 5 pid
    r"(.*)$"                                               # 6 message
)


def parse_syslog(df: DataFrame, col: str = "value", assume_year: int | None = None) -> DataFrame:
    """RFC3164-ish syslog (reference: src/syslog_parser.cpp:48-143):
    optional <pri> with facility=pri>>3 / severity=pri&7 decode
    (src/syslog_parser.cpp:53-65), classic or ISO timestamp, host,
    program[pid], message.

    Classic `MMM d HH:mm:ss` timestamps carry NO year. The reference stamps
    the current wall-clock year (src/syslog_parser.cpp:77-84) — a
    nondeterminism this engine refuses to replicate (the same file parsed in
    two different years yields different data). Callers parsing
    classic-format data must pass an explicit `assume_year`; with the
    default None, classic timestamps parse to NULL `ts` (ISO timestamps are
    unaffected) — a loud, checkable signal rather than a silently
    mis-yeared value."""
    c = F.col(col)
    df = df.withColumn(_GROUPS_COL, regex_groups_col(c, _SYSLOG_RE, 6))
    g = lambda i: F.element_at(F.col(_GROUPS_COL), i)  # noqa: E731
    pri = F.nullif(g(1), F.lit("")).cast("int")
    sev_map = F.array(*[F.lit(s) for s in SYSLOG_SEVERITIES])
    fac_map = F.array(*[F.lit(s) for s in SYSLOG_FACILITIES])
    raw_ts = g(2)
    if assume_year is None:
        classic = F.lit(None).cast("timestamp")
    else:
        classic = F.try_to_timestamp(
            F.concat(F.lit(f"{int(assume_year)} "), F.regexp_replace(raw_ts, "  ", " ")),
            F.lit("yyyy MMM d HH:mm:ss"),
        )
    return (
        df.withColumn("pri", pri)
        .withColumn("facility", F.shiftright(pri, 3))
        .withColumn("severity_num", pri.bitwiseAND(F.lit(7)))
        .withColumn("severity", F.element_at(sev_map, pri.bitwiseAND(F.lit(7)) + 1))
        .withColumn("facility_name", F.element_at(fac_map, F.shiftright(pri, 3) + 1))
        # classic (year-less) timestamps must NOT fall through to the
        # generic chain: its "MMM d HH:mm:ss" entry would silently stamp
        # 1970 — route them exclusively through the explicit assume_year.
        # The month-name shape test also SKIPS the chain for classic rows:
        # try_to_timestamp failures are exception-driven in the JVM, so 11
        # doomed attempts per classic row cost ~4× the whole parse
        # (measured 6.9 s → 1.6 s at sf0.1); one rlike replaces them.
        .withColumn(
            "ts",
            F.when(raw_ts.rlike(r"^[A-Za-z]{3} "), classic).otherwise(
                to_timestamp_multi(
                    raw_ts, tuple(f for f in TS_FORMATS if f != "MMM d HH:mm:ss")
                )
            ),
        )
        .withColumn("host", F.nullif(g(3), F.lit("")))
        .withColumn("program", F.nullif(g(4), F.lit("")))
        .withColumn("pid", F.nullif(g(5), F.lit("")).cast("int"))
        .withColumn("message", g(6))
        .withColumn("_valid", c.rlike(_SYSLOG_RE))
        .drop(_GROUPS_COL)
    )


def parse_logfmt(df: DataFrame, col: str = "value") -> DataFrame:
    """logfmt `k=v` pairs (declared in the reference at src/log_parser.h:64-70,
    implementation absent there — ours extracts `k=v` / `k="v with spaces"`
    pairs with regexp_extract_all, then builds the map)."""
    pairs = F.expr(
        rf"""regexp_extract_all({col}, '(\\w+)=("[^"]*"|\\S*)', 0)"""
    )
    kv = F.transform(
        pairs,
        lambda p: F.struct(
            F.regexp_extract(p, r'^(\w+)=', 1).alias("k"),
            F.regexp_replace(F.regexp_extract(p, r'^\w+=(.*)$', 1), r'^"|"$', "").alias("v"),
        ),
    )
    out = (
        df.withColumn("fields", F.map_from_entries(kv))
        .withColumn("_valid", F.size(pairs) > 0)
        .withColumn("message", F.element_at(F.col("fields"), "msg"))
        .withColumn("level", F.element_at(F.col("fields"), "level"))
        .withColumn("ts", to_timestamp_multi(F.element_at(F.col("fields"), "ts")))
    )
    return out


_LOG4J_RE = r"^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2})[,.]?(\d{3})? +(\w+) +\[([^\]]*)\] +([\w.$]+)\s*[-:]? (.*)$"


def parse_log4j(df: DataFrame, col: str = "value") -> DataFrame:
    """log4j `date level [thread] class: msg` (declared in the reference at
    src/log_parser.h:98-102, implementation absent — one regexp here)."""
    c = F.col(col)
    df = df.withColumn(_GROUPS_COL, regex_groups_col(c, _LOG4J_RE, 6))
    g = lambda i: F.element_at(F.col(_GROUPS_COL), i)  # noqa: E731
    return (
        df.withColumn("ts", to_timestamp_multi(g(1)))
        .withColumn("level", F.nullif(g(3), F.lit("")))
        .withColumn("thread", F.nullif(g(4), F.lit("")))
        .withColumn("logger", F.nullif(g(5), F.lit("")))
        .withColumn("message", g(6))
        .withColumn("_valid", c.rlike(_LOG4J_RE))
        .drop(_GROUPS_COL)
    )


def parse_cef(df: DataFrame, col: str = "value") -> DataFrame:
    """CEF `CEF:0|vendor|product|version|sig|name|severity|k=v ...`
    (declared in the reference at src/log_parser.h:104-112, impl absent)."""
    c = F.col(col)
    parts = F.split(c, r"\|")
    pairs = F.expr(rf"""regexp_extract_all(element_at(split({col}, '\\|'), 8), '(\\w+)=([^=]*?)(?= \\w+=|$)', 0)""")
    kv = F.transform(
        pairs,
        lambda p: F.struct(
            F.regexp_extract(p, r"^(\w+)=", 1).alias("k"),
            F.regexp_extract(p, r"^\w+=(.*)$", 1).alias("v"),
        ),
    )
    return (
        df.withColumn("cef_version", F.regexp_extract(c, r"^CEF:(\d+)", 1))
        .withColumn("vendor", F.element_at(parts, 2))
        .withColumn("product", F.element_at(parts, 3))
        .withColumn("device_version", F.element_at(parts, 4))
        .withColumn("signature_id", F.element_at(parts, 5))
        .withColumn("name", F.element_at(parts, 6))
        .withColumn("severity", F.element_at(parts, 7))
        .withColumn("extension", F.map_from_entries(kv))
        .withColumn("_valid", c.startswith("CEF:") & (F.size(parts) >= 7))
    )


def parse_regex(df: DataFrame, col: str, pattern: str, group_names: list[str]) -> DataFrame:
    """Regex parse: capture group i -> column group_names[i-1] (reference:
    src/regex_parser.cpp:43-74 — groups addressed by index; its named-group
    dispatch is dead code since std::regex lacks named groups). All groups
    extracted in one regex pass (regex_groups_col)."""
    c = F.col(col)
    out = df.withColumn(_GROUPS_COL, regex_groups_col(c, pattern, len(group_names)))
    for i, name in enumerate(group_names, start=1):
        out = out.withColumn(name, F.nullif(F.element_at(F.col(_GROUPS_COL), i), F.lit("")))
    return out.withColumn("_valid", c.rlike(pattern)).drop(_GROUPS_COL)


def parse_line(df: DataFrame, col: str = "value") -> DataFrame:
    """Plain-line parse: whole line = message, level=INFO (reference:
    src/line_parser.cpp:9-32). The reference stamps wall-clock now() as the
    timestamp — a nondeterminism we do NOT replicate; `ts` stays absent and
    callers carry event time from the surrounding record."""
    return df.withColumn("message", F.col(col)).withColumn("level", F.lit("INFO")).withColumn(
        "_valid", F.lit(True)
    )


PARSERS = {
    "jsonl": parse_jsonl,
    "syslog": parse_syslog,
    "logfmt": parse_logfmt,
    "log4j": parse_log4j,
    "cef": parse_cef,
    "line": parse_line,
}


def parse_format(df: DataFrame, fmt: str, col: str = "value", **kw) -> DataFrame:
    """Parser factory dispatch on format name (reference: create_parser,
    src/file_data_loader.cpp:351-363). Extra kwargs thread to the parser
    (e.g. `assume_year` for syslog's classic timestamps)."""
    if fmt == "regex":
        return parse_regex(df, col, kw["pattern"], kw["group_names"])
    try:
        parser = PARSERS[fmt]
    except KeyError:
        raise ValueError(f"unknown format {fmt!r}; known: {sorted(PARSERS)} + ['regex']") from None
    return parser(df, col, **kw)


def split_valid(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid rows, dead-letter rows) — our improvement over the reference's
    silent drop (src/file_data_loader.cpp:766-777)."""
    return df.filter(F.col("_valid")).drop("_valid"), df.filter(~F.col("_valid")).drop("_valid")


def extract_attributes(df: DataFrame, patterns: dict[str, str], col: str = "message") -> DataFrame:
    """Per-row named regex attribute extraction: first capture group, empty
    string when unmatched (reference: src/file_data_loader.cpp:713-748)."""
    out = df
    for name, pat in patterns.items():
        out = out.withColumn(name, F.regexp_extract(F.col(col), pat, 1))
    return out


def multi_file_merge(spark: SparkSession, paths: list[str], fmt: str = "jsonl", ts_col: str = "ts") -> DataFrame:
    """Timestamp-ordered k-way merge of N sources (reference:
    src/multi_file_reader.h:45-56's priority-queue merge). Spark-native:
    union the scans and let the sort shuffle order globally — the
    single-node heap merge does not survive 1000 executors; a range-
    partitioned sort does."""
    dfs = [parse_format(read_lines(spark, p), fmt) for p in paths]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out.orderBy(ts_col)


def reassemble_logical_lines(spark: SparkSession, path: str) -> DataFrame:
    """Logical-line reassembly (reference: readLogicalLine,
    src/file_data_loader.cpp:219-274): a line that starts with indentation,
    or follows a line ending in a backslash, continues the previous logical
    line. Continuations are joined with a single space; the trailing
    backslash is dropped; continuation indent is stripped.

    Ordering contract: line order is taken from monotonically_increasing_id
    within a file's read order, which holds while a file maps to one input
    split — set spark.sql.files.maxPartitionBytes >= the largest
    continuation-bearing file (indent-continuation formats are small config/
    trace files in practice; row-per-record formats never need this op)."""
    from pyspark.sql.window import Window

    df = spark.read.text(path).select(
        F.input_file_name().alias("file"),
        F.monotonically_increasing_id().alias("idx"),
        "value",
    )
    w = Window.partitionBy("file").orderBy("idx")
    prev = F.lag("value").over(w)
    is_cont = (
        F.col("value").rlike(r"^[ \t]") | F.coalesce(prev.rlike(r"\\$"), F.lit(False))
    )
    starts = F.when(is_cont, 0).otherwise(1)
    df = df.withColumn("_grp", F.sum(starts).over(w))
    cleaned = F.regexp_replace(F.regexp_replace("value", r"[ \t]*\\$", ""), r"^[ \t]+", "")
    # collect_list gives no order guarantee -> collect (idx, text) structs,
    # sort within the array, then join
    parts = F.array_sort(F.collect_list(F.struct(F.col("idx"), F.col("_clean"))))
    return (
        df.withColumn("_clean", cleaned)
        .groupBy("file", "_grp")
        .agg(
            F.min("idx").alias("idx"),
            F.concat_ws(" ", F.transform(parts, lambda s: s._clean)).alias("value"),
        )
        .orderBy("file", "idx")
        .select("file", "value")
    )
