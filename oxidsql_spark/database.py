"""OxidSQL-parity session facade: CREATE TABLE / INSERT / SELECT.

The reference's user-visible surface is exactly three statements
(README.md:34-42): ``CREATE TABLE``, ``INSERT INTO … VALUES``, and
``SELECT … FROM … [WHERE …]``.  This facade reproduces that surface —
including the analyzer errors the reference raises that Spark is laxer
about — on top of Spark temp views, so every statement becomes a
declarative Catalyst plan.

Reference behaviors reproduced:
* typed columns incl. VARCHAR(n) with length enforcement at insert time
  (types.rs:182-191 try_convert_to) — Spark stores STRING, we check len;
* INSERT arity/type checks (analyzer/mod.rs:217-237): value count must
  equal column count, integer literals are range-checked against the
  column width (standard checked casts — NOT the reference's
  checked_abs() sign-mangling bug, see SURVEY §1.2);
* all columns nullable (analyzer/mod.rs:260), PRIMARY KEY parsed and
  ignored (main.rs:26);
* SELECT goes straight to spark.sql — Catalyst's analyzer subsumes the
  reference's binding/ambiguity resolution (analyzer/mod.rs:188-209).

Deliberate divergences (documented in SURVEY §2 'semantics quirks'):
standard SQL NULL comparison (not NULL=NULL→true), full join duplicate
semantics (not first-match-only), negative literals allowed.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import local_rows_df
from .versioned import Delta


class AnalyzerError(ValueError):
    """Facade-level analysis error (the reference's AnalyzerError)."""


_INT_RANGES = {
    "smallint": (-(1 << 15), (1 << 15) - 1),
    "int": (-(1 << 31), (1 << 31) - 1),
    "bigint": (-(1 << 63), (1 << 63) - 1),
}

_TYPE_MAP = {
    "smallint": T.ShortType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "bigint": T.LongType(),
    "varchar": T.StringType(),
    "string": T.StringType(),
    "varbinary": T.BinaryType(),
}


@dataclass
class ColumnSpec:
    name: str
    type_name: str  # normalized: smallint|int|bigint|varchar|varbinary
    length: int | None = None  # varchar/varbinary cap

    @property
    def spark_type(self) -> T.DataType:
        t = _TYPE_MAP.get(self.type_name)
        # CTAS passthrough: results may carry types beyond the reference's
        # five (double, date, decimal(p,s), …) — parse the simpleString
        return t if t is not None else T._parse_datatype_string(self.type_name)

    def sql_repr(self) -> str:
        if self.length is not None:
            return f"{self.type_name.upper()}({self.length})"
        return self.type_name.upper()


_COL_RE = re.compile(
    r"^\s*(\w+)\s+(SMALLINT|INT|INTEGER|BIGINT|VARCHAR\s*\(\s*(\d+)\s*\)|STRING|VARBINARY\s*\(\s*(\d+)\s*\))"
    r"(\s+PRIMARY\s+KEY)?\s*$",
    re.IGNORECASE,
)
_CREATE_RE = re.compile(r"^\s*CREATE\s+TABLE\s+(\w+)\s*\((.*)\)\s*;?\s*$", re.IGNORECASE | re.DOTALL)
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(\w+)\s*(?:\(([^()]*)\))?\s*VALUES\s*(\(.*\))\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_SELECT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(\w+)\s*(?:\(([^()]*)\))?\s*(SELECT\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.*?))?\s*;?\s*$", re.IGNORECASE | re.DOTALL
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(\w+)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*?))?\s*;?\s*$", re.IGNORECASE | re.DOTALL
)
_DROP_RE = re.compile(r"^\s*DROP\s+TABLE\s+(\w+)\s*;?\s*$", re.IGNORECASE)
_CTAS_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(\w+)\s+AS\s+(SELECT\b.*)$", re.IGNORECASE | re.DOTALL
)
_TRUNCATE_RE = re.compile(r"^\s*TRUNCATE\s+TABLE\s+(\w+)\s*;?\s*$", re.IGNORECASE)
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(\w+)\s+AS\s+(SELECT\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_VIEW_RE = re.compile(r"^\s*DROP\s+VIEW\s+(\w+)\s*;?\s*$", re.IGNORECASE)
_CREATE_FUNC_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?FUNCTION\s+(\w+)\s*(\(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_FUNC_RE = re.compile(r"^\s*DROP\s+FUNCTION\s+(\w+)\s*;?\s*$", re.IGNORECASE)
_VERSION_AS_OF_RE = re.compile(r"\b(\w+)\s+VERSION\s+AS\s+OF\s+(\d+)\b", re.IGNORECASE)
_SHOW_VERSIONS_RE = re.compile(r"^\s*SHOW\s+VERSIONS\s+(\w+)\s*;?\s*$", re.IGNORECASE)
_COPY_TO_RE = re.compile(
    r"^\s*COPY\s+(?:\((.+)\)|(\w+))\s+TO\s+'([^']+)'"
    r"(?:\s*\(\s*FORMAT\s+(\w+)\s*\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_COPY_FROM_RE = re.compile(
    r"^\s*COPY\s+(\w+)\s+FROM\s+'([^']+)'"
    r"(?:\s*\(\s*FORMAT\s+(\w+)\s*\))?"
    r"(?:\s+ON\s+VIOLATION\s+DEAD\s+LETTER\s+'([^']+)')?\s*;?\s*$",
    re.IGNORECASE,
)
_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+(\w+)(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*;?\s*$", re.IGNORECASE
)
_VACUUM_RE = re.compile(
    r"^\s*VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?\s*;?\s*$", re.IGNORECASE
)
_ALTER_ADD_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMN\s+(.+?)\s*;?\s*$", re.IGNORECASE
)
_CREATE_MV_RE = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s+AS\s+(SELECT\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_MV_RE = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(\w+)(?:\s+WITH\s*\((.+)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_MV_RE = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(\w+)\s*;?\s*$", re.IGNORECASE
)
_MV_SELECT_RE = re.compile(
    r"^\s*SELECT\s+(.+?)\s+FROM\s+(\w+)(?:\s+WHERE\s+(.+?))?"
    r"\s+GROUP\s+BY\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MV_AGG_RE = re.compile(
    r"^(sum|min|max|avg|count)\s*\((.+)\)\s+AS\s+(\w+)\s*$", re.IGNORECASE | re.DOTALL
)
_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(\w+)(?:\s+AS\s+tgt)?"
    r"\s+USING\s+(?:\((.+?)\)|(\w+))(?:\s+AS\s+src)?"
    r"\s+ON\s+(.+?)"
    r"(?:\s+WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+(.+?))?"
    r"(?:\s+WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+(\*|\([^)]*\)\s*VALUES\s*\(.*?\)))?"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_ON_RE = re.compile(r"^\s*tgt\.(\w+)\s*=\s*src\.(\w+)\s*$", re.IGNORECASE)
_CREATE_CONTRACT_RE = re.compile(
    r"^\s*CREATE\s+CONTRACT\s+ON\s+(\w+)\s*\((.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_CONTRACT_RE = re.compile(
    r"^\s*DROP\s+CONTRACT\s+ON\s+(\w+)\s*;?\s*$", re.IGNORECASE
)
_SHOW_CONTRACTS_RE = re.compile(
    r"^\s*SHOW\s+CONTRACTS\s+(\w+)\s*;?\s*$", re.IGNORECASE
)


def _split_top_level(s: str) -> list[str]:
    """Split on commas not inside parens/quotes."""
    parts, depth, buf, quote = [], 0, [], None
    for ch in s:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    if buf:
        parts.append("".join(buf).strip())
    return parts


# Most rows a table may hold for a DELETE or UPDATE to collect its
# touched rows to the driver: the exact online rowcount bounds them, so
# the driver never holds more.  Collect plus driver fold matched the
# aggregation path near this size (SCALE.md, "statement cost follows
# the delta").  Above it a statement rewrites the whole table and folds
# its statistics in the distributed signed aggregation.
_DRIVER_ROWS = 25_000


@dataclass
class _Touched:
    """A DELETE's or UPDATE's touched rows (see ``_touched``)."""

    frame: DataFrame
    rows: list | None = None  # collected, in table column order
    extra: list | None = None  # the ``extra`` values of each row
    files: frozenset | None = None  # manifest paths of the files holding them; None: all


class OxidSparkDatabase:
    """The reference's OxidSQLDatabase (src/database.rs:36-45) rebuilt on
    a SparkSession: one ``query()`` entry point that parses/validates the
    reference grammar and executes via Catalyst."""

    def __init__(self, spark: SparkSession, storage_dir: str | None = None):
        """In-memory by default (temp views). With ``storage_dir``, every
        table is backed by a snapshot-versioned parquet directory
        (versioned.VersionedTable): mutations commit durable snapshots,
        and a new OxidSparkDatabase on the same directory sees every
        table — the rebuild's twin of the reference's disk persistence
        (its buffer-managed segment files, src/storage/disk.rs)."""
        import json

        self.spark = spark
        self.storage_dir = storage_dir
        self._tables: dict[str, list[ColumnSpec]] = {}
        self._stats: dict = {}  # name -> OnlineTableStats
        # single-row INSERT path: committed base plan + buffered rows, so
        # N inserts cost ONE union node over one N-row local batch, not
        # an N-deep union chain (plan depth stays O(1) per table)
        self._view_base: dict[str, DataFrame] = {}
        self._row_buf: dict[str, list[tuple]] = {}
        self._views: dict[str, str] = {}  # view name -> defining SELECT
        self._functions: dict[str, str] = {}  # SQL UDF name -> signature+body
        self._matviews: dict[str, dict] = {}  # mat. view name -> parsed spec
        self._contracts: dict[str, dict] = {}  # table name -> contract spec
        if storage_dir:
            os.makedirs(storage_dir, exist_ok=True)
            for name in sorted(os.listdir(storage_dir)):
                schema_f = os.path.join(storage_dir, name, "_schema.json")
                if not os.path.exists(schema_f):
                    continue
                with open(schema_f) as fh:
                    self._tables[name] = [ColumnSpec(**c) for c in json.load(fh)]
                df = self._vt(name).read()
                df.createOrReplaceTempView(name)
                # session restart: restore the checkpointed stats blob
                # (catalog/mod.rs:574-577 twin — no table rescan); fall
                # back to a rebuild for pre-checkpoint directories
                stats_f = os.path.join(storage_dir, name, "_stats.pkl")
                if os.path.exists(stats_f):
                    from pyspark.sql import types as T

                    from .statistics import OnlineTableStats

                    schema = T.StructType(
                        [
                            T.StructField(c.name, c.spark_type, True)
                            for c in self._tables[name]
                        ]
                    )
                    with open(stats_f, "rb") as fh:
                        self._stats[name] = OnlineTableStats.loads(
                            self.spark, schema, fh.read()
                        )
                else:
                    self._new_stats(name).rebuild(df)
                contract_f = os.path.join(storage_dir, name, "_contract.json")
                if os.path.exists(contract_f):
                    with open(contract_f) as fh:
                        self._contracts[name] = json.load(fh)
            # session restart: re-attach materialized views (spec JSON +
            # the AggView's versioned snapshots are both in the _mv_ dir)
            for name in sorted(os.listdir(storage_dir)):
                spec_f = os.path.join(storage_dir, name, "_mvspec.json")
                if not (name.startswith("_mv_") and os.path.exists(spec_f)):
                    continue
                with open(spec_f) as fh:
                    spec = json.load(fh)
                spec["path"] = os.path.join(storage_dir, name)
                self._matviews[spec["name"]] = spec
                self._mv_frame(spec["name"]).createOrReplaceTempView(spec["name"])

    def _vt(self, name: str):
        from .versioned import VersionedTable

        return VersionedTable(self.spark, os.path.join(self.storage_dir, name))

    # -- online statistics (heap.rs:245-292 twin) -----------------------

    def _new_stats(self, name: str):
        from pyspark.sql import types as T

        from .statistics import OnlineTableStats

        schema = T.StructType(
            [T.StructField(c.name, c.spark_type, True) for c in self._tables[name]]
        )
        self._stats[name] = OnlineTableStats(self.spark, schema)
        return self._stats[name]

    def stats(self, name: str):
        """Per-table online statistics: rowcount, per-column ndv sketch,
        and a maintained sample — FRESH after every INSERT with no
        ANALYZE step, exactly the property the reference's per-insert
        maintenance provides (heap.rs:245-292). Cardinality estimates
        for planning come from ``stats(t).estimate_cardinality(pred)``."""
        if name not in self._stats:
            raise AnalyzerError(f"unknown table '{name}'")
        return self._stats[name]

    def _save_stats(self, name: str) -> None:
        """Checkpoint the table's stats blob next to its snapshots (the
        reference serializes sketches into catalog VarBinary columns,
        catalog/mod.rs:574-577). Atomic replace; driver-local, no jobs."""
        if not self.storage_dir or name not in self._stats:
            return
        p = os.path.join(self.storage_dir, name, "_stats.pkl")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(self._stats[name].dumps())
        os.replace(tmp, p)

    def _stats_rebuild(self, name: str) -> None:
        """MERGE path: its matched/inserted split has no single row
        rewrite to fold, so the statistics are re-derived from the table
        (DELETE and UPDATE fold their own signed delta instead)."""
        if name in self._stats:
            self._stats[name].rebuild(self.spark.table(name))

    def _commit(self, name: str, content: DataFrame | Delta) -> None:
        """Publish a table's new content: durable snapshot when backed by
        storage (readers of older versions are unaffected), else a temp
        view swap — a ``Delta`` (durable tables only) writes just the
        changed rows.  Commits reset the single-row insert buffer: the
        committed plan becomes the new base the buffer unions onto."""
        if self.storage_dir:
            vt = self._vt(name)
            vt.write(content)
            content = vt.read()
        content.createOrReplaceTempView(name)
        self._view_base[name] = content
        self._row_buf[name] = []

    def _append(self, name: str, new: DataFrame) -> None:
        """Publish the table's rows followed by `new`: one Spark write of
        only the new rows when durable, a view union in memory."""
        self._commit(
            name, Delta(add=new) if self.storage_dir else self.spark.table(name).unionByName(new)
        )

    def _touched(self, name: str, cond: str, extra: tuple = ()) -> _Touched:
        """The rows a DELETE or UPDATE condition holds TRUE for.  While
        the table's exact online rowcount is at most ``_DRIVER_ROWS``,
        ONE job collects them (table columns, then the ``extra`` Columns)
        with the file each sits in.  Above it nothing is collected: the
        rows stay a frame and the whole table is rewritten (``files`` is
        None).  In memory there are no files."""
        durable = bool(self.storage_dir)
        vt = self._vt(name) if durable else None
        base = vt.read() if durable else self.spark.table(name)
        frame = base.alias(name).filter(f"coalesce(({cond}), false)")
        if durable and not vt.files():  # an empty version: no file, no row
            return _Touched(frame, [], [], frozenset())
        if self._stats[name].rowcount > _DRIVER_ROWS:
            return _Touched(frame)
        path = [F.col("_metadata.file_path")] if durable else []
        n, got = len(base.columns), frame.select("*", *extra, *path).collect()
        return _Touched(
            frame,
            [tuple(r[:n]) for r in got],
            [tuple(r[n : n + len(extra)]) for r in got],
            frozenset(vt.relpath(r[-1]) for r in got) if durable else None,
        )

    def _rewrite(self, name: str, hit: _Touched, fn) -> None:
        """Commit `fn`, a DELETE's or UPDATE's row rewrite: over only the
        files holding a touched row when they are known — every other
        file carries over by reference — else over the whole table."""
        if hit.files is None:
            self._commit(name, fn(self.spark.table(name)))
            return
        add = fn(self._vt(name).read_files(sorted(hit.files)).alias(name)) if hit.files else None
        self._commit(name, Delta(add=add, drop=hit.files))

    # -- statement router (the reference's parse → analyze → plan → run) --

    def query(self, sql: str) -> DataFrame | None:
        s = sql.strip()
        cm = _CTAS_RE.match(s)
        if cm:
            return self._create_table_as(cm.group(1).lower(), cm.group(2))
        if _CREATE_RE.match(s):
            return self._create_table(s)
        tm = _TRUNCATE_RE.match(s)
        if tm:
            return self._delete(f"DELETE FROM {tm.group(1)}")
        mg = _MERGE_RE.match(s)
        if mg:
            return self._merge_sql(mg)
        cc = _CREATE_CONTRACT_RE.match(s)
        if cc:
            return self._create_contract(cc.group(1).lower(), cc.group(2))
        dc = _DROP_CONTRACT_RE.match(s)
        if dc:
            name = dc.group(1).lower()
            if name not in self._contracts:
                raise AnalyzerError(f"no contract on table '{name}'")
            del self._contracts[name]
            self._save_contract(name)
            return None
        sc = _SHOW_CONTRACTS_RE.match(s)
        if sc:
            name = sc.group(1).lower()
            c = self._contracts.get(name, {})
            rows = (
                [(n, f"CHECK ({p})") for n, p in c.get("row", {}).items()]
                + [(n, f"UNIQUE ({', '.join(k)})") for n, k in c.get("unique", {}).items()]
                + [(f"not_null({col})", f"NOT NULL ({col})") for col in c.get("not_null", [])]
                + [
                    (n, f"FOREIGN KEY ({ch}) REFERENCES {p} ({pc})")
                    for n, (p, ch, pc) in c.get("fk", {}).items()
                ]
            )
            return local_rows_df(
                self.spark, sorted(rows), "contract string, definition string"
            )
        mv = _CREATE_MV_RE.match(s)
        if mv:
            return self._create_matview(mv.group(1).lower(), mv.group(2))
        rm = _REFRESH_MV_RE.match(s)
        if rm:
            return self._refresh_matview(rm.group(1).lower(), rm.group(2))
        dmv = _DROP_MV_RE.match(s)
        if dmv:
            return self._drop_matview(dmv.group(1).lower())
        vm = _CREATE_VIEW_RE.match(s)
        if vm:
            # logical view: the defining SQL is stored and re-resolved
            # against the base tables' CURRENT state on every query —
            # necessary because the facade's commits SWAP the base temp
            # views, and a DataFrame captured at definition time would
            # pin the old snapshot (Spark analyzes plans eagerly)
            vname = vm.group(1).lower()
            if vname in self._tables:
                raise AnalyzerError(f"'{vname}' is a table")
            if vname in self._functions:
                raise AnalyzerError(f"'{vname}' is a function")
            if vname in self._matviews:
                raise AnalyzerError(f"'{vname}' is a materialized view")
            self.sql(vm.group(2))  # validate now: analysis errors surface here
            self._views[vname] = vm.group(2)
            return None
        dv = _DROP_VIEW_RE.match(s)
        if dv:
            vname = dv.group(1).lower()
            if vname not in self._views:
                raise AnalyzerError(f"unknown view '{vname}'")
            self.spark.catalog.dropTempView(vname)
            del self._views[vname]
            return None
        fm = _CREATE_FUNC_RE.match(s)
        if fm:
            # SQL-defined UDFs (Spark 4 `CREATE FUNCTION ... RETURN expr`,
            # scalar or RETURNS TABLE) — the reference left scalar
            # functions as a TODO (README.md:51); here the definition is
            # declarative SQL Catalyst inlines into the calling plan, so
            # a UDF call costs the same as writing the expression out.
            # Registered session-scoped (TEMPORARY): the facade owns the
            # catalog, no metastore required.
            fname = fm.group(1).lower()
            if fname in self._tables or fname in self._views:
                raise AnalyzerError(f"'{fname}' is a table or view")
            self.spark.sql(
                f"CREATE OR REPLACE TEMPORARY FUNCTION {fname} {fm.group(2)}"
            )
            self._functions[fname] = fm.group(2).strip().rstrip(";")
            return None
        df_ = _DROP_FUNC_RE.match(s)
        if df_:
            fname = df_.group(1).lower()
            if fname not in self._functions:
                raise AnalyzerError(f"unknown function '{fname}'")
            self.spark.sql(f"DROP TEMPORARY FUNCTION {fname}")
            del self._functions[fname]
            return None
        if re.match(r"^\s*SHOW\s+FUNCTIONS\s*;?\s*$", s, re.IGNORECASE):
            return local_rows_df(
                self.spark,
                [(n, d) for n, d in sorted(self._functions.items())],
                "function_name string, definition string",
            )
        am = _ALTER_ADD_RE.match(s)
        if am:
            return self._alter_add_column(am.group(1).lower(), am.group(2))
        if re.match(r"^\s*SHOW\s+VIEWS\s*;?\s*$", s, re.IGNORECASE):
            return local_rows_df(
                self.spark,
                [(n, d.strip()) for n, d in sorted(self._views.items())],
                "view_name string, definition string",
            )
        if _INSERT_SELECT_RE.match(s):
            return self._insert_select(s)
        if _INSERT_RE.match(s):
            return self._insert(s)
        if re.match(r"^\s*SHOW\s+TABLES\s*;?\s*$", s, re.IGNORECASE):
            return local_rows_df(
                self.spark, [(t,) for t in sorted(self._tables)], "table_name string"
            )
        hm = re.match(r"^\s*DESCRIBE\s+HISTORY\s+(\w+)\s*;?\s*$", s, re.IGNORECASE)
        if hm:
            return self._describe_history(hm.group(1).lower())
        dm = re.match(r"^\s*DESCRIBE\s+(\w+)\s*;?\s*$", s, re.IGNORECASE)
        if dm:
            name = dm.group(1).lower()
            if name not in self._tables:
                raise AnalyzerError(f"unknown table '{name}'")
            return local_rows_df(
                self.spark,
                [(c.name, c.sql_repr()) for c in self._tables[name]],
                "col_name string, data_type string",
            )
        am2 = re.match(
            r"^\s*EXPLAIN\s+ANALYZE\s+(.+)$", s, re.IGNORECASE | re.DOTALL
        )
        if am2:
            return self._explain_analyze(am2.group(1))
        em = re.match(r"^\s*EXPLAIN\s+(.+)$", s, re.IGNORECASE | re.DOTALL)
        if em:
            return self._explain(em.group(1))
        if _DELETE_RE.match(s):
            return self._delete(s)
        if _UPDATE_RE.match(s):
            return self._update(s)
        if _DROP_RE.match(s):
            return self._drop(s)
        ct = _COPY_TO_RE.match(s)
        if ct:
            return self._copy_to(ct)
        cf = _COPY_FROM_RE.match(s)
        if cf:
            return self._copy_from(cf)
        om = _OPTIMIZE_RE.match(s)
        if om:
            return self._optimize(om)
        vm2 = _VACUUM_RE.match(s)
        if vm2:
            return self._vacuum(vm2)
        sv = _SHOW_VERSIONS_RE.match(s)
        if sv:
            name = sv.group(1).lower()
            if name in self._matviews:
                return local_rows_df(
                    self.spark,
                    [(v,) for v in self._mv_view(name).versions()],
                    "version int",
                )
            if not self.storage_dir or name not in self._tables:
                raise AnalyzerError(f"'{name}' is not a durable versioned table")
            return local_rows_df(
                self.spark, [(v,) for v in self._vt(name).versions()], "version int"
            )
        if _VERSION_AS_OF_RE.search(s):
            return self._sql_time_travel(s)
        return self.sql(s)

    def _sql_time_travel(self, s: str) -> DataFrame:
        """SQL time travel: `... FROM t VERSION AS OF n ...` reads the
        durable snapshot n of a versioned table (Delta/Iceberg's syntax,
        backed by versioned.VersionedTable).  Each reference rewrites to
        a reserved-prefix snapshot view (never clobbers a user name);
        the views are dropped as soon as the statement is analyzed —
        Spark resolves the plan eagerly at sql() time, so the returned
        DataFrame keeps its parquet scan after the drop.  The rewrite
        skips single-quoted string literals, so a literal containing the
        phrase 'VERSION AS OF' is left untouched."""
        created: list[str] = []

        def repl(m: "re.Match[str]") -> str:
            name, ver = m.group(1).lower(), int(m.group(2))
            if name in self._matviews:
                if ver not in self._mv_view(name).versions():
                    raise AnalyzerError(
                        f"materialized view '{name}' has no version {ver}"
                    )
                view = f"__oxid_tt_{name}_v{ver}"
                self._mv_frame(name, ver).createOrReplaceTempView(view)
                created.append(view)
                return view
            if not self.storage_dir or name not in self._tables:
                raise AnalyzerError(f"'{name}' is not a durable versioned table")
            vt = self._vt(name)
            if ver not in vt.versions():
                raise AnalyzerError(f"table '{name}' has no version {ver}")
            view = f"__oxid_tt_{name}_v{ver}"
            vt.read(ver).createOrReplaceTempView(view)
            created.append(view)
            return view

        # odd-indexed split parts are quoted literals — pass them through
        parts = re.split(r"('(?:[^']|'')*')", s)
        rewritten = "".join(
            p if i % 2 else _VERSION_AS_OF_RE.sub(repl, p)
            for i, p in enumerate(parts)
        )
        try:
            return self.sql(rewritten)
        finally:
            for v in created:
                self.spark.catalog.dropTempView(v)

    _COPY_FORMATS = {"parquet", "csv", "json", "orc"}

    def _copy_reader_writer(self, fmt: str):
        fmt = (fmt or "parquet").lower()
        if fmt not in self._COPY_FORMATS:
            raise AnalyzerError(
                f"COPY: unsupported format '{fmt}' (one of {sorted(self._COPY_FORMATS)})"
            )
        return fmt

    def _copy_to(self, m: "re.Match[str]") -> DataFrame:
        """COPY t TO 'path' / COPY (select …) TO 'path' [(FORMAT f)] —
        DuckDB's export verb over the Spark writer: the result lands as
        parquet (default), csv (with header), json, or orc.  Returns one
        metrics row.  The export is a distributed write — one job, no
        driver materialization (the rows_copied count is a second pass
        over the SOURCE, acceptable for an interactive verb; pipelines
        use ``sinks.*`` directly)."""
        subquery, name, path, fmt = m.groups()
        fmt = self._copy_reader_writer(fmt)
        df = self.sql(subquery) if subquery else self.sql(f"SELECT * FROM {name}")
        w = df.write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", True)
        getattr(w, fmt)(path)
        return local_rows_df(
            self.spark,
            [(df.count(), fmt, path)],
            "rows_copied long, format string, path string",
        )

    def _copy_from(self, m: "re.Match[str]") -> DataFrame:
        """COPY t FROM 'path' [(FORMAT f)] [ON VIOLATION DEAD LETTER 'q']
        — bulk append into an existing facade table: the file's columns
        are matched BY NAME and cast to the table's declared types
        (csv/json read with the table schema — inference would be a full
        extra pass and type-unstable).  One atomic commit, like any
        INSERT.

        Default contract behavior refuses the WHOLE batch on any
        violation (the statement returns the violations relation and
        the table is untouched).  ON VIOLATION DEAD LETTER 'q' is the
        batch face of the streaming dead-letter gate
        (quality.ingest_gated_stream): violating ROWS are routed to a
        parquet dead-letter relation at q (tagged with the
        comma-joined names of the checks they fail), clean rows commit
        normally, and the statement returns a routing summary.  All
        four check classes are row-attributable here: row/NOT NULL
        checks via quality.gate_rows' fused projection, FK via a
        per-row parent-key probe, UNIQUE via a null-safe match against
        the keys that are duplicated within (existing ∪ batch)."""
        name, path, fmt, dl_path = (
            m.group(1).lower(),
            m.group(2),
            m.group(3),
            m.group(4),
        )
        fmt = self._copy_reader_writer(fmt)
        if name not in self._tables:
            raise AnalyzerError(f"unknown table '{name}'")
        cur = self.sql(f"SELECT * FROM {name}")
        r = self.spark.read
        if fmt in ("csv", "json"):
            r = r.schema(cur.schema)
            if fmt == "csv":
                r = r.option("header", True)
        incoming = getattr(r, fmt)(path)
        aligned = incoming.select(
            *[F.col(f.name).cast(f.dataType) for f in cur.schema.fields]
        )
        if dl_path is not None:
            return self._copy_from_dead_letter(name, aligned, cur, fmt, dl_path)
        viol = self._gate_incoming(name, aligned, cur.unionByName(aligned))
        if viol is not None:
            return viol  # table untouched; the report IS the result
        n = aligned.count()
        self._append(name, aligned)
        if name in self._stats:
            self._stats[name].update(aligned)
            self._save_stats(name)
        return local_rows_df(
            self.spark, [(n, fmt, path)], "rows_loaded long, format string, path string"
        )

    def _copy_from_dead_letter(
        self, name: str, batch: DataFrame, cur: DataFrame, fmt: str, dl_path: str
    ) -> DataFrame:
        """Row-level routing for COPY … ON VIOLATION DEAD LETTER: tag
        every batch row with the contract checks it fails, land the
        violating rows (plus their tags) at ``dl_path``, commit the
        clean rows.  The dead-letter relation is statement-scoped
        (overwritten per COPY) — the triage-and-replay artifact, not a
        log."""
        from .operators.quality import gate_rows

        c = self._contracts.get(name) or {
            "row": {},
            "unique": {},
            "not_null": [],
            "fk": {},
        }
        flagged = gate_rows(batch, c["row"], c["not_null"])
        # FK checks, row-attributed: a row violates when its child key
        # is non-NULL and absent from the parent key set (one distinct
        # parent projection per FK, broadcast like _gate_incoming's
        # anti-join form)
        for fname, (parent, child, pcol) in (c["fk"] or {}).items():
            pk = (
                self.sql(f"SELECT {pcol} FROM {parent}")
                .where(F.col(pcol).isNotNull())
                .distinct()
                .select(F.col(pcol).alias(f"__fk_{child}"))
            )
            flagged = (
                flagged.join(
                    # no forced broadcast: the parent key set is
                    # parent-table-sized (AQE broadcasts small dims)
                    pk,
                    flagged[child] == F.col(f"__fk_{child}"),
                    "left",
                )
                .withColumn(
                    "_violations",
                    F.when(
                        F.col(child).isNotNull()
                        & F.col(f"__fk_{child}").isNull(),
                        F.array_append("_violations", F.lit(f"fk({fname})")),
                    ).otherwise(F.col("_violations")),
                )
                .drop(f"__fk_{child}")
            )
        # UNIQUE checks, row-attributed: a batch row violates when its
        # key is duplicated within (existing ∪ batch) — the same
        # combined-relation reading as the refuse-mode gate, matched
        # NULL-SAFELY so NULL-keyed duplicates are routed, not exempted
        for uname, ukeys in (c["unique"] or {}).items():
            dup_keys = (
                cur.select(*ukeys)
                .unionByName(batch.select(*ukeys))
                .groupBy(*ukeys)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .select(
                    *[F.col(k).alias(f"__dk_{k}") for k in ukeys],
                    F.lit(True).alias("__dup"),  # match marker: the
                    # joined key columns can't signal a match when the
                    # duplicated key itself is NULL
                )
            )
            cond = F.lit(True)
            for k in ukeys:
                cond = cond & F.col(k).eqNullSafe(F.col(f"__dk_{k}"))
            flagged = (
                flagged.join(dup_keys, cond, "left")
                .withColumn(
                    "_violations",
                    F.when(
                        F.col("__dup"),
                        F.array_append(
                            "_violations", F.lit(f"unique({uname})")
                        ),
                    ).otherwise(F.col("_violations")),
                )
                .drop("__dup", *[f"__dk_{k}" for k in ukeys])
            )
        # statement-local persist (the facade owns no query scope): the
        # tagged batch feeds the dead-letter write, the clean commit,
        # and both counts
        flagged = flagged.persist()
        try:
            good = flagged.filter(F.size("_violations") == 0).drop("_violations")
            bad = flagged.filter(F.size("_violations") > 0).withColumn(
                "_violations", F.array_join("_violations", ",")
            )
            bad.write.mode("overwrite").parquet(dl_path)
            n_dead = self.spark.read.parquet(dl_path).count()
            n_good = good.count()
            if n_good:
                self._append(name, good)
                if name in self._stats:
                    self._stats[name].update(good)
                    self._save_stats(name)
        finally:
            flagged.unpersist()
        return local_rows_df(
            self.spark,
            [(n_good, n_dead, fmt, dl_path)],
            "rows_loaded long, rows_dead long, format string, dead_letter string",
        )

    def _require_versioned(self, name: str):
        if not self.storage_dir or name not in self._tables:
            raise AnalyzerError(f"'{name}' is not a durable versioned table")
        return self._vt(name)

    def _optimize(self, m: "re.Match[str]") -> DataFrame:
        """OPTIMIZE t [ZORDER BY (c1, c2)] — Delta's maintenance verb
        over the versioned backend: ``sinks.optimize`` rewrites the
        CURRENT version's content compacted to ~128 MB files (and
        Morton-clustered when ZORDER BY is given) as the NEXT version.
        Content is untouched (stats stay valid, time travel keeps the
        old layout) and concurrent readers of prior versions never see
        a half-rewrite.  Returns one metrics row."""
        from .sinks import optimize

        name = m.group(1).lower()
        vt = self._require_versioned(name)
        zcols = [c.strip() for c in m.group(2).split(",")] if m.group(2) else []
        next_v, n_files = optimize(self.spark, vt.path, *zcols)
        live = vt.read()
        live.createOrReplaceTempView(name)
        self._view_base[name] = live
        self._row_buf[name] = []
        return local_rows_df(
            self.spark,
            [(next_v, n_files, ",".join(zcols))],
            "version int, n_files int, zorder_by string",
        )

    def _vacuum(self, m: "re.Match[str]") -> DataFrame:
        """VACUUM t [RETAIN n VERSIONS] — drop all but the newest n (>=1,
        default 2) committed snapshots plus any crashed uncommitted
        directories; returns the removed version numbers.  Time travel
        to removed versions stops working, exactly like Delta's vacuum
        horizon.  Also accepts a materialized view (refresh snapshots
        share the retention semantics)."""
        name = m.group(1).lower()
        keep = int(m.group(2)) if m.group(2) else 2
        if name in self._matviews:
            removed = self._mv_view(name).vacuum(keep_last=keep)
        else:
            removed = self._require_versioned(name).vacuum(keep_last=keep)
        return local_rows_df(
            self.spark, [(v,) for v in removed], "removed_version int"
        )

    def _merge_sql(self, m: "re.Match[str]") -> None:
        """MERGE INTO tgt USING src|(<select>) ON tgt.k = src.k
        [WHEN MATCHED THEN UPDATE SET col = expr, …]
        [WHEN NOT MATCHED THEN INSERT * | (cols) VALUES (exprs)] —
        the SQL spelling of `merge()` (Delta/standard MERGE subset:
        single equi-key, update + insert actions).  SET/VALUES
        expressions address both sides as ``src.<col>`` / ``tgt.<col>``.
        Omitting the NOT MATCHED clause drops unmatched source rows;
        ``INSERT *`` maps same-named source columns."""
        target = m.group(1).lower()
        subq, src_name, on_src, set_src, ins_src = (
            m.group(2), m.group(3), m.group(4), m.group(5), m.group(6),
        )
        om = _MERGE_ON_RE.match(on_src)
        if not om or om.group(1).lower() != om.group(2).lower():
            raise AnalyzerError(
                "MERGE supports ON tgt.<key> = src.<key> with one shared "
                f"key column; got: {on_src.strip()!r}"
            )
        key = om.group(1).lower()
        if set_src is None and ins_src is None:
            # both optional groups empty ⇒ the statement (or a typo the
            # non-greedy groups skipped) parsed to a guaranteed no-op
            # that silently drops every unmatched source row — refuse
            raise AnalyzerError(
                "MERGE needs at least one WHEN MATCHED THEN UPDATE or "
                "WHEN NOT MATCHED THEN INSERT clause (a clause that "
                "failed to parse lands here too — check its spelling)"
            )
        source = self.sql(subq) if subq else self.sql(f"SELECT * FROM {src_name}")
        sets = None
        if set_src:
            sets = {}
            for item in _split_top_level(set_src):
                sm = re.match(r"^\s*(?:tgt\.)?(\w+)\s*=\s*(.+)$", item, re.DOTALL)
                if not sm:
                    raise AnalyzerError(f"cannot parse SET item: {item!r}")
                sets[sm.group(1).lower()] = sm.group(2).strip()
        insert_unmatched = ins_src is not None
        ins_map = None
        if ins_src and ins_src.strip() != "*":
            im = re.match(
                r"^\(([^)]*)\)\s*VALUES\s*\((.*)\)$", ins_src.strip(), re.DOTALL
            )
            cols = [c.strip().lower() for c in im.group(1).split(",")]
            vals = [v.strip() for v in _split_top_level(im.group(2))]
            if len(cols) != len(vals):
                raise AnalyzerError(
                    f"INSERT has {len(cols)} columns but {len(vals)} values"
                )
            ins_map = dict(zip(cols, vals))
        return self.merge(
            target,
            source,
            key,
            when_matched_set=sets,
            insert_unmatched=insert_unmatched,
            when_not_matched_insert=ins_map,
        )

    # -- data contracts (write-path gating of quality.validate_contracts) --

    def _create_contract(self, name: str, spec_src: str) -> None:
        """CREATE CONTRACT ON t (CONSTRAINT nm CHECK (…), UNIQUE (…),
        NOT NULL (col), FOREIGN KEY (col) REFERENCES parent (pcol), …) —
        declares the table's data contract.  Bulk ingest (COPY FROM,
        INSERT … SELECT) then validates every incoming batch with the
        fused one-scan report (`operators.quality.validate_contracts`)
        and REFUSES the load on any violation: the statement returns the
        violations relation and the table is untouched.  Repeated CREATE
        CONTRACT statements accumulate checks."""
        if name not in self._tables:
            raise AnalyzerError(f"unknown table '{name}'")
        c = self._contracts.setdefault(
            name, {"row": {}, "unique": {}, "not_null": [], "fk": {}}
        )
        for item in _split_top_level(spec_src):
            item = item.strip()
            m = re.match(
                r"^CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)$", item, re.IGNORECASE | re.DOTALL
            )
            if m:
                c["row"][m.group(1).lower()] = m.group(2).strip()
                continue
            m = re.match(r"^CHECK\s*\((.+)\)$", item, re.IGNORECASE | re.DOTALL)
            if m:
                c["row"][f"check_{len(c['row']) + 1}"] = m.group(1).strip()
                continue
            m = re.match(r"^UNIQUE\s*\(([^)]+)\)$", item, re.IGNORECASE)
            if m:
                keys = [k.strip().lower() for k in m.group(1).split(",")]
                c["unique"][f"unique({'_'.join(keys)})"] = keys
                continue
            m = re.match(r"^NOT\s+NULL\s*\((\w+)\)$", item, re.IGNORECASE)
            if m:
                col = m.group(1).lower()
                if col not in c["not_null"]:
                    c["not_null"].append(col)
                continue
            m = re.match(
                r"^FOREIGN\s+KEY\s*\((\w+)\)\s+REFERENCES\s+(\w+)\s*\((\w+)\)$",
                item,
                re.IGNORECASE,
            )
            if m:
                child, parent, pcol = (
                    m.group(1).lower(),
                    m.group(2).lower(),
                    m.group(3).lower(),
                )
                if parent not in self._tables:
                    raise AnalyzerError(f"unknown parent table '{parent}'")
                c["fk"][f"fk_{child}_{parent}"] = [parent, child, pcol]
                continue
            raise AnalyzerError(f"cannot parse contract item: {item!r}")
        self._save_contract(name)
        return None

    def _save_contract(self, name: str) -> None:
        import json

        if not self.storage_dir:
            return
        p = os.path.join(self.storage_dir, name, "_contract.json")
        if name not in self._contracts:
            if os.path.exists(p):
                os.remove(p)
            return
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._contracts[name], fh)
        os.replace(tmp, p)

    def _gate_incoming(self, name: str, batch: DataFrame, combined: DataFrame):
        """Validate an incoming batch against the table's contract.
        Returns None (no contract / clean) or the violations relation
        (only checks with violations > 0).  Row/NOT NULL/FK checks run
        on the BATCH (one fused scan); uniqueness runs on the COMBINED
        relation (existing ∪ batch) restricted to keys the BATCH
        touches — a batch key colliding with existing data is a
        violation, but duplicate groups that pre-date the contract and
        that the batch never touches cannot refuse an otherwise-clean
        load (they are the table's problem, not the batch's).  The
        report is #checks rows — one bounded collect, never
        data-sized."""
        c = self._contracts.get(name)
        if not c:
            return None
        from .operators.quality import validate_contracts

        fk = {
            n: (self.sql(f"SELECT * FROM {parent}"), child, pcol)
            for n, (parent, child, pcol) in c["fk"].items()
        }
        rep = validate_contracts(
            batch, row_checks=c["row"], not_null=c["not_null"], fk=fk
        )
        for uname, ukeys in (c["unique"] or {}).items():
            # NULL-SAFE key match: a plain semi join on the key columns
            # would never match a batch row with a NULL key, silently
            # exempting NULL-keyed duplicates from the uniqueness check
            # — validate_contracts' groupBy counts NULL groups, and this
            # module's stricter-than-SQL reading wants them refused.
            probe = batch.select(
                *[F.col(k).alias(f"__uk_{k}") for k in ukeys]
            ).distinct()
            cond = F.lit(True)
            for k in ukeys:
                cond = cond & F.col(k).eqNullSafe(F.col(f"__uk_{k}"))
            touched = combined.join(probe, cond, "semi")
            rep = rep.unionByName(validate_contracts(touched, unique={uname: ukeys}))
        rows = [r for r in rep.collect() if r.violations > 0]
        if not rows:
            return None
        return local_rows_df(self.spark, rows, "check string, violations bigint")

    # -- materialized views (incremental aggregate maintenance) ----------

    def _mv_parse(self, select_sql: str) -> dict:
        """Parse a grouped-aggregate SELECT into a matview spec: keys,
        measure expressions, and the output column mapping.  Supported
        select items: GROUP BY key columns, ``COUNT(*) AS a``, and
        ``SUM/MIN/MAX/AVG(expr) AS a`` (the mergeable-partial set
        `matview.AggView` maintains; aliases are mandatory so the
        partial columns have stable names)."""
        m = _MV_SELECT_RE.match(select_sql)
        if not m:
            raise AnalyzerError(
                "CREATE MATERIALIZED VIEW: expected "
                "SELECT <keys + aggregates> FROM <table> [WHERE …] GROUP BY <keys>"
            )
        items, base, where, keys_src = m.groups()
        keys = [k.strip() for k in _split_top_level(keys_src)]
        outputs: list[list] = []  # [kind, measure-or-key, alias]
        measures: dict[str, str] = {}
        for item in _split_top_level(items):
            am = _MV_AGG_RE.match(item)
            if am:
                fn, arg, alias = (
                    am.group(1).lower(),
                    am.group(2).strip(),
                    am.group(3).lower(),
                )
                if fn == "count":
                    if arg != "*":
                        raise AnalyzerError(
                            "materialized views support COUNT(*) only "
                            "(COUNT(expr) is not a maintained partial)"
                        )
                    outputs.append(["count", "", alias])
                else:
                    measures[alias] = arg
                    outputs.append([fn, alias, alias])
            else:
                col = item.strip()
                if col not in keys:
                    raise AnalyzerError(
                        f"materialized view select item '{col}' is neither an "
                        "aggregate AS alias nor a GROUP BY key"
                    )
                outputs.append(["key", col, col])
        if not measures and not any(o[0] == "count" for o in outputs):
            raise AnalyzerError("materialized view needs at least one aggregate")
        return {
            "base": base.lower(),
            "where": where.strip() if where else None,
            "keys": keys,
            "measures": measures,
            "outputs": outputs,
        }

    def _mv_path(self, name: str) -> str:
        if self.storage_dir:
            return os.path.join(self.storage_dir, f"_mv_{name}")
        import tempfile

        # in-memory facade: the partial state still lives on disk (it IS
        # the materialization), but in a process-scoped temp dir
        if not hasattr(self, "_mv_tmp"):
            self._mv_tmp = tempfile.mkdtemp(prefix="oxid_mv_")
        return os.path.join(self._mv_tmp, name)

    def _mv_view(self, name: str):
        from .matview import AggView

        spec = self._matviews[name]
        return AggView(
            self.spark,
            spec["path"],
            spec["keys"],
            {k: F.expr(v) for k, v in spec["measures"].items()},
        )

    def _mv_frame(self, name: str, version: int | None = None) -> DataFrame:
        """The view's OUTPUT relation (requested columns only), derived
        from the stored partials at read time."""
        spec = self._matviews[name]
        df = self._mv_view(name).read(version)
        cols = []
        for kind, arg, alias in spec["outputs"]:
            if kind == "key":
                cols.append(F.col(arg))
            elif kind == "count":
                cols.append(F.col("cnt").alias(alias))
            else:  # sum/min/max read the partial, avg is derived by AggView
                cols.append(F.col(f"{kind}_{arg}").alias(alias))
        return df.select(*cols)

    def _mv_base_frame(self, spec: dict) -> DataFrame:
        q = f"SELECT * FROM {spec['base']}"
        if spec["where"]:
            q += f" WHERE {spec['where']}"
        return self.sql(q)

    def _mv_save_spec(self, name: str) -> None:
        import json

        spec = self._matviews[name]
        with open(os.path.join(spec["path"], "_mvspec.json"), "w") as fh:
            json.dump({**spec, "name": name}, fh)

    def _mv_register(self, name: str) -> None:
        """Route reads through the view name: the materialized output is
        a temp view re-registered after every create/refresh (Spark
        analyzes eagerly, so readers between refreshes keep the pinned
        snapshot — exactly the staleness contract of a matview)."""
        self._mv_frame(name).createOrReplaceTempView(name)

    def _create_matview(self, name: str, select_sql: str) -> None:
        """CREATE MATERIALIZED VIEW v AS SELECT … GROUP BY … — parse
        into keys/measures, back with `matview.AggView` (per-group
        mergeable partials in a versioned store), register the output
        relation under the view name."""
        for coll, what in (
            (self._tables, "table"),
            (self._views, "view"),
            (self._functions, "function"),
            (self._matviews, "materialized view"),
        ):
            if name in coll:
                raise AnalyzerError(f"'{name}' is already a {what}")
        spec = self._mv_parse(select_sql)
        if spec["base"] not in self._tables and spec["base"] not in self._views:
            raise AnalyzerError(f"unknown table '{spec['base']}'")
        spec["path"] = self._mv_path(name)
        os.makedirs(spec["path"], exist_ok=True)
        self._matviews[name] = spec
        try:
            self._mv_view(name).create(self._mv_base_frame(spec))
        except Exception:
            del self._matviews[name]
            raise
        self._mv_save_spec(name)
        self._mv_register(name)
        return None

    def _refresh_matview(self, name: str, delta_sql: str | None) -> DataFrame:
        """REFRESH MATERIALIZED VIEW v [WITH (select …)] — with a delta
        relation, fold the APPENDED rows into the partials (cost
        |delta| + |groups|, never the base; the view's WHERE predicate
        is applied to the delta); without one, recompute from the base
        (the recovery path after non-append mutations).  Every refresh
        commits a new version — time travel spans refreshes."""
        if name not in self._matviews:
            raise AnalyzerError(f"unknown materialized view '{name}'")
        spec = self._matviews[name]
        av = self._mv_view(name)
        if delta_sql:
            delta = self.sql(delta_sql)
            if spec["where"]:
                delta = delta.filter(F.expr(spec["where"]))
            version = av.refresh(delta)
            mode = "incremental"
        else:
            version = av.rebuild(self._mv_base_frame(spec))
            mode = "rebuild"
        self._mv_register(name)
        return local_rows_df(
            self.spark, [(name, version, mode)], "view string, version int, mode string"
        )

    def _drop_matview(self, name: str) -> None:
        import shutil

        if name not in self._matviews:
            raise AnalyzerError(f"unknown materialized view '{name}'")
        self.spark.catalog.dropTempView(name)
        shutil.rmtree(self._matviews[name]["path"], ignore_errors=True)
        del self._matviews[name]
        return None

    def sql(self, q: str) -> DataFrame:
        """SELECT path — handed to Catalyst (parser/analyzer/optimizer all
        subsumed; see SURVEY §3 lifecycle mapping). Logical views are
        re-resolved first so they see the base tables' current state
        (definition order, so views over views compose)."""
        for vname, vsql in self._views.items():
            self.spark.sql(vsql).createOrReplaceTempView(vname)
        return self.spark.sql(q)

    def _explain(self, select_sql: str) -> DataFrame:
        """EXPLAIN <select>: one row per plan-quality fact (pushdown,
        join strategies, exchanges, top-k, Python evals) plus the
        formatted physical plan — the introspection surface the
        reference's PhysicalQueryPlan debug printing provides
        (execution/plan.rs:138-141), expressed as a relation so the
        REPL/driver can consume it like any query result."""
        from .plans import explain_summary, formatted_plan

        df = self.sql(select_sql)
        s = explain_summary(df)
        rows = [
            ("joins", ", ".join(s.joins) or "none"),
            ("exchanges", str(s.n_exchanges)),
            ("pushed_filters", "; ".join(s.pushed_filters) or "none"),
            ("read_schemas", "; ".join(s.read_schemas) or "none"),
            ("topk", str(s.has_topk).lower()),
            ("python_evals", str(s.python_evals)),
        ]
        rows += self._estimate_rows(df, select_sql)
        rows.append(("physical_plan", formatted_plan(df)))
        return local_rows_df(self.spark, rows, "item string, detail string")

    def _explain_analyze(self, select_sql: str) -> DataFrame:
        """EXPLAIN ANALYZE <select>: EXECUTE the statement, then report
        what actually happened — actual row count, wall time, and the
        FINAL physical plan after AQE's runtime re-optimization
        (runtime-chosen join strategies and coalesced partitions, which
        static EXPLAIN cannot show).  The statement runs whole through
        the noop sink, every output column evaluated, and counts its rows
        with an Observation on the way: ``count()`` would let Catalyst
        prune the columns it computes.  The ``joins`` and ``exchanges``
        rows are read off that final plan, not the static one.  The
        dynamic companion of `_explain`'s static plan-quality relation —
        the 'run it and show me' surface other engines spell the same
        way."""
        import time

        from pyspark.sql import Observation

        from .plans import last_execution_plan, summarize_plan

        df = self.sql(select_sql)
        obs = Observation("explain_analyze")
        t0 = time.time()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
            "overwrite"
        ).save()
        wall_ms = int((time.time() - t0) * 1000)
        final_plan = last_execution_plan(self.spark)
        s = summarize_plan(final_plan)
        rows = [
            ("actual_rows", str(obs.get["n"])),
            ("wall_ms", str(wall_ms)),
            ("joins", ", ".join(s.joins) or "none"),
            ("exchanges", str(s.n_exchanges)),
            ("final_plan", final_plan),
        ]
        return local_rows_df(self.spark, rows, "item string, detail string")

    def _describe_history(self, name: str) -> DataFrame:
        """DESCRIBE HISTORY t (Delta's spelling) for a durable versioned
        table: one row per committed version — version, file count,
        byte size, and commit time (the manifest's mtime, i.e. the
        moment the version became visible).  The audit surface for
        the version model SHOW VERSIONS only lists ids for."""
        import datetime as _dt

        if name in self._matviews:
            from .versioned import VersionedTable

            vt = VersionedTable(self.spark, self._matviews[name]["path"])
        elif not self.storage_dir or name not in self._tables:
            raise AnalyzerError(f"'{name}' is not a durable versioned table")
        else:
            vt = self._vt(name)
        rows = [
            (v, n, nbytes, _dt.datetime.fromtimestamp(ts).isoformat(timespec="seconds"))
            for v, n, nbytes, ts in vt.history()
        ]
        return local_rows_df(
            self.spark,
            rows,
            "version int, n_files int, n_bytes bigint, committed_at string",
        )

    _SIMPLE_SELECT_RE = re.compile(
        r"^\s*SELECT\b[^;]*?\bFROM\s+(\w+)"
        r"(?:\s+WHERE\s+(.*?))?"
        r"(?:\s+(?:GROUP|ORDER|LIMIT|HAVING)\b.*)?\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    _JOIN_SELECT_RE = re.compile(
        r"^\s*SELECT\b[^;]*?\bFROM\s+(\w+)(?:\s+(?!JOIN\b)(\w+))?"
        r"\s+JOIN\s+(\w+)(?:\s+(?!ON\b)(\w+))?"
        r"\s+ON\s+\w+\.\w+\s*=\s*\w+\.\w+"
        r"(?:\s+WHERE\s+(.*?))?"
        r"(?:\s+(?:GROUP|ORDER|LIMIT|HAVING)\b.*)?\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    # comma-join form (the reference's own demo shape:
    # FROM people p, cars c WHERE p.id = c.owner_id AND ...)
    _COMMA_JOIN_RE = re.compile(
        r"^\s*SELECT\b[^;]*?\bFROM\s+(\w+)(?:\s+(\w+))?\s*,\s*(\w+)(?:\s+(\w+))?"
        r"\s+WHERE\s+(.*?)"
        r"(?:\s+(?:GROUP|ORDER|LIMIT|HAVING)\b.*)?\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    def _estimate_join_rows(self, select_sql: str) -> list[tuple[str, str]]:
        """EXPLAIN's cardinality rows for a two-table equi-join — the
        join-selectivity input the reference's planner feeds DPccp
        (bottomup.rs:101-107): each relation's cardinality is the ONLINE
        sample estimate with its own WHERE conjuncts applied (floor rule
        included), the join result is max(left, right) under the
        reference's key-uniqueness assumption ('bad upper bound', its
        own comment), and selectivity = result / cross.  Conjuncts must
        be table-qualified to be attributed; anything else (unqualified
        or cross-table residuals) withholds the estimate rather than
        mis-scoping it."""
        jm = self._JOIN_SELECT_RE.match(select_sql)
        explicit_join = jm is not None
        if jm is None:
            jm = self._COMMA_JOIN_RE.match(select_sql)
        if jm is None:
            return []
        t1, t2 = jm.group(1).lower(), jm.group(3).lower()
        a1 = (jm.group(2) or t1).lower()
        a2 = (jm.group(4) or t2).lower()
        if t1 not in self._stats or t2 not in self._stats or a1 == a2:
            return []
        names = {a1: t1, a2: t2}
        preds: dict[str, list[str]] = {a1: [], a2: []}
        where = jm.group(5)
        cross_equi = 0
        if where:
            for conj in re.split(r"\s+AND\s+", where.strip(), flags=re.IGNORECASE):
                xm = re.match(r"^\s*(\w+)\.\w+\s*=\s*(\w+)\.\w+\s*$", conj)
                if xm and {xm.group(1).lower(), xm.group(2).lower()} == set(names):
                    cross_equi += 1  # the join predicate itself
                    continue
                qm = re.match(r"^\s*(\w+)\.", conj)
                alias = qm.group(1).lower() if qm else None
                if alias not in preds:
                    return []
                stripped = re.sub(rf"\b{alias}\.", "", conj, flags=re.IGNORECASE)
                other = a2 if alias == a1 else a1
                if re.search(rf"\b{other}\.", stripped, flags=re.IGNORECASE):
                    return []  # cross-table residual — can't scope it
                preds[alias].append(stripped)
        if not explicit_join and cross_equi == 0:
            return []  # comma form without an equi predicate: a product
        try:
            cards = {
                alias: self._stats[tab].estimate_cardinality(
                    " AND ".join(preds[alias]) or "true"
                )
                for alias, tab in names.items()
            }
            est = max(cards[a1], cards[a2])
            cross = cards[a1] * cards[a2]
            sel = est / cross if cross else 1.0
            return [
                (f"estimated_rows_{a1}", str(cards[a1])),
                (f"estimated_rows_{a2}", str(cards[a2])),
                ("estimated_join_rows", str(est)),
                ("estimated_join_selectivity", f"{sel:.6g}"),
            ]
        except Exception:
            return []  # unparsable/non-deterministic predicate: no rows

    def _estimate_rows(self, df: DataFrame, select_sql: str) -> list[tuple[str, str]]:
        """EXPLAIN's cardinality rows for a single-table SELECT over a
        facade table: the ONLINE sample-based estimate (the reference's
        planner input — predicate executed against the maintained
        reservoir sample with the bottomup.rs:159-161 floor rule,
        fresh after every INSERT with no ANALYZE) displayed NEXT TO
        Catalyst's own optimized-plan statistics, so the two planners'
        views of the same scan are directly comparable.  Two-table
        equi-joins additionally get the reference's join-cardinality
        form (``_estimate_join_rows``); anything more complex gets only
        the Catalyst row — the sample estimator is a per-table
        structure, as in the reference."""
        out: list[tuple[str, str]] = []
        m = self._SIMPLE_SELECT_RE.match(select_sql)
        if m and m.group(1).lower() in self._stats:
            name, pred = m.group(1).lower(), m.group(2) or "true"
            try:
                est = self._stats[name].estimate_cardinality(pred)
                out.append(("estimated_rows", str(est)))
            except Exception:
                pass  # non-deterministic/invalid predicate: skip the row
        else:
            out += self._estimate_join_rows(select_sql)
        try:
            jstats = df._jdf.queryExecution().optimizedPlan().stats()
            rc = jstats.rowCount()
            catalyst = (
                str(rc.get())
                if rc.isDefined()
                else f"unknown (sizeInBytes={jstats.sizeInBytes()})"
            )
        except Exception:
            catalyst = "unavailable"
        out.append(("catalyst_rows", catalyst))
        return out

    def _create_table_as(self, name: str, select_sql: str) -> None:
        """CREATE TABLE AS SELECT: schema inferred from the query result
        (reference types map back to their names; anything beyond the
        reference's five — double, date, decimal — passes through). The
        result materializes like any committed table: durable snapshot
        under storage_dir, temp view otherwise; stats build from the
        materialized rows."""
        if name in self._tables:
            raise AnalyzerError(f"table '{name}' already exists")
        if name in self._views:
            # mirror of the view-side "is a table" check: a table named
            # like a view would be silently shadowed at query time by
            # sql()'s per-query view re-resolution
            raise AnalyzerError(f"'{name}' is a view")
        if name in self._functions:
            # reverse of the CREATE FUNCTION guard: a table named like a
            # SQL UDF would shadow calls to it in later statements
            raise AnalyzerError(f"'{name}' is a function")
        if name in self._matviews:
            # mirror of _create_matview's collision check: a table named
            # like a matview would clobber its temp-view registration and
            # a later DROP MATERIALIZED VIEW would tear the table down
            raise AnalyzerError(f"'{name}' is a materialized view")
        df = self.sql(select_sql)
        inverse = {
            "bigint": "bigint",
            "int": "int",
            "smallint": "smallint",
            "string": "varchar",
            "binary": "varbinary",
        }
        specs = []
        for f in df.schema.fields:
            ss = f.dataType.simpleString()
            specs.append(ColumnSpec(f.name.lower(), inverse.get(ss, ss)))
        self._tables[name] = specs
        self._persist_schema(name)
        self._commit(name, df)
        self._new_stats(name).rebuild(self.spark.table(name))
        self._save_stats(name)
        return None

    # -- CREATE TABLE ----------------------------------------------------

    def _create_table(self, stmt: str) -> None:
        m = _CREATE_RE.match(stmt)
        name, cols_src = m.group(1).lower(), m.group(2)
        if name in self._tables:
            raise AnalyzerError(f"table '{name}' already exists")
        if name in self._views:
            # mirror of the view-side "is a table" check: a table named
            # like a view would be silently shadowed at query time by
            # sql()'s per-query view re-resolution
            raise AnalyzerError(f"'{name}' is a view")
        if name in self._functions:
            # reverse of the CREATE FUNCTION guard: a table named like a
            # SQL UDF would shadow calls to it in later statements
            raise AnalyzerError(f"'{name}' is a function")
        if name in self._matviews:
            # mirror of _create_matview's collision check: a table named
            # like a matview would clobber its temp-view registration and
            # a later DROP MATERIALIZED VIEW would tear the table down
            raise AnalyzerError(f"'{name}' is a materialized view")
        specs: list[ColumnSpec] = []
        for col_src in _split_top_level(cols_src):
            cm = _COL_RE.match(col_src)
            if not cm:
                raise AnalyzerError(f"cannot parse column definition: {col_src!r}")
            col_name = cm.group(1).lower()
            type_src = cm.group(2).upper().replace(" ", "")
            if type_src.startswith("VARCHAR"):
                specs.append(ColumnSpec(col_name, "varchar", int(cm.group(3))))
            elif type_src.startswith("VARBINARY"):
                specs.append(ColumnSpec(col_name, "varbinary", int(cm.group(4))))
            elif type_src == "STRING":
                specs.append(ColumnSpec(col_name, "varchar", None))
            elif type_src in ("INT", "INTEGER"):
                specs.append(ColumnSpec(col_name, "int"))
            else:
                specs.append(ColumnSpec(col_name, type_src.lower()))
            # PRIMARY KEY parsed and ignored, like the reference (main.rs:26)
        if len({c.name for c in specs}) != len(specs):
            raise AnalyzerError("duplicate column name")
        schema = T.StructType([T.StructField(c.name, c.spark_type, True) for c in specs])
        empty = local_rows_df(self.spark, [], schema)
        self._tables[name] = specs
        self._persist_schema(name)
        self._commit(name, empty)
        self._new_stats(name)
        self._save_stats(name)  # a reopen restores it instead of rescanning
        return None

    def _alter_add_column(self, name: str, col_src: str) -> None:
        """ALTER TABLE … ADD COLUMN (reference has no ALTER at all):
        existing rows get NULL — a metadata change plus one view/snapshot
        commit; the versioned backend records it as a new snapshot whose
        schema differs (time travel to older versions keeps the old
        schema, tested in test_versioned.py::schema_evolution)."""
        if name not in self._tables:
            raise AnalyzerError(f"unknown table '{name}'")
        cm = _COL_RE.match(col_src)
        if not cm:
            raise AnalyzerError(f"cannot parse column definition: {col_src!r}")
        col_name = cm.group(1).lower()
        if col_name in {c.name for c in self._tables[name]}:
            raise AnalyzerError(f"column '{col_name}' already exists")
        type_src = cm.group(2).upper().replace(" ", "")
        if type_src.startswith("VARCHAR"):
            spec = ColumnSpec(col_name, "varchar", int(cm.group(3)))
        elif type_src.startswith("VARBINARY"):
            spec = ColumnSpec(col_name, "varbinary", int(cm.group(4)))
        elif type_src in ("INT", "INTEGER"):
            spec = ColumnSpec(col_name, "int")
        else:
            spec = ColumnSpec(col_name, type_src.lower())
        widened = self.spark.table(name).withColumn(
            col_name, F.lit(None).cast(spec.spark_type)
        )
        self._tables[name] = self._tables[name] + [spec]
        self._persist_schema(name)
        self._commit(name, widened)
        self._new_stats(name).rebuild(self.spark.table(name))
        self._save_stats(name)
        return None

    def _persist_schema(self, name: str) -> None:
        if not self.storage_dir:
            return
        import json

        tdir = os.path.join(self.storage_dir, name)
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, "_schema.json"), "w") as fh:
            json.dump([c.__dict__ for c in self._tables[name]], fh)

    # -- INSERT INTO … VALUES -------------------------------------------

    def _insert(self, stmt: str) -> None:
        """INSERT INTO t [(col, ...)] VALUES (...), (...), ... — the
        reference's positional single-row insert (analyzer/mod.rs:
        217-237 contracts preserved: per-row arity check, checked
        casts, VARCHAR(n) caps) widened with standard SQL surface: a
        column list (unnamed columns backfill NULL) and multi-row
        VALUES (one commit / one buffered batch for the whole
        statement, not one per row)."""
        m = _INSERT_RE.match(stmt)
        name, cols_src, values_src = m.group(1).lower(), m.group(2), m.group(3)
        if name not in self._tables:
            raise AnalyzerError(f"unknown table '{name}'")
        specs = self._tables[name]
        by_name = {c.name: c for c in specs}
        if cols_src is not None:
            targets = [c.strip().lower() for c in cols_src.split(",") if c.strip()]
            unknown = [c for c in targets if c not in by_name]
            if unknown:
                raise AnalyzerError(f"unknown column(s) in INSERT list: {unknown}")
            if len(set(targets)) != len(targets):
                raise AnalyzerError("duplicate column in INSERT list")
        else:
            targets = [c.name for c in specs]
        rows: list[tuple] = []
        for row_src in _split_top_level(values_src):
            row_src = row_src.strip()
            if not (row_src.startswith("(") and row_src.endswith(")")):
                raise AnalyzerError(f"cannot parse VALUES row: {row_src!r}")
            literals = _split_top_level(row_src[1:-1])
            # arity check — analyzer/mod.rs:217-222, per row
            if len(literals) != len(targets):
                raise AnalyzerError(
                    f"INSERT row has {len(literals)} values but the target "
                    f"list has {len(targets)} columns"
                )
            vals = {
                t: self._convert(lit, by_name[t]) for lit, t in zip(literals, targets)
            }
            rows.append(tuple(vals.get(c.name) for c in specs))
        schema = T.StructType([T.StructField(c.name, c.spark_type, True) for c in specs])
        if self.storage_dir:
            # one parquet file written on the driver: no Spark job
            self._commit(name, Delta(add=rows))
        else:
            # buffered path: the view is always base ∪ one local batch of
            # every buffered row — the plan stays 2 nodes deep no matter
            # how many single-row inserts arrive (the old shape built an
            # N-deep union chain whose analysis cost grew per statement)
            buf = self._row_buf.setdefault(name, [])
            buf.extend(rows)
            base = self._view_base[name]
            batch = local_rows_df(self.spark, buf, schema)
            base.union(batch).createOrReplaceTempView(name)
        # online stats: the inserted rows are driver-known — buffered
        # accumulation, zero extra jobs here (heap.rs:245-292 twin)
        self._stats[name].add_rows(rows)
        self._save_stats(name)
        return None

    def _insert_select(self, stmt: str) -> None:
        """INSERT INTO t [(cols)] SELECT … (a reference TODO; the
        set-oriented twin of VALUES). Arity-checked like the reference's
        analyzer against the TARGET list, then each column cast to the
        declared type (VARCHAR(n) caps enforced via the same
        overflow-checked conversion discipline); with a column list,
        unnamed columns backfill NULL — same contract as the VALUES
        form."""
        m = _INSERT_SELECT_RE.match(stmt)
        name, cols_src, select_src = m.group(1).lower(), m.group(2), m.group(3)
        if name not in self._tables:
            raise AnalyzerError(f"unknown table '{name}'")
        specs = self._tables[name]
        by_name = {c.name: c for c in specs}
        if cols_src is not None:
            targets = [c.strip().lower() for c in cols_src.split(",") if c.strip()]
            unknown = [c for c in targets if c not in by_name]
            if unknown:
                raise AnalyzerError(f"unknown column(s) in INSERT list: {unknown}")
            if len(set(targets)) != len(targets):
                raise AnalyzerError("duplicate column in INSERT list")
        else:
            targets = [c.name for c in specs]
        src = self.spark.sql(select_src)
        if len(src.columns) != len(targets):
            raise AnalyzerError(
                f"INSERT SELECT has {len(src.columns)} columns but the target "
                f"list has {len(targets)}"
            )
        src_for = dict(zip(targets, src.columns))
        cast = src.select(
            *[
                (
                    F.col(src_for[spec.name]).cast(spec.spark_type)
                    if spec.name in src_for
                    else F.lit(None).cast(spec.spark_type)
                ).alias(spec.name)
                for spec in specs
            ]
        )
        capped = [s for s in specs if s.type_name == "varchar" and s.length is not None]
        if capped:
            # the reference rejects over-length strings at insert
            # (types.rs:182-191); enforce the same contract setwise.
            # localCheckpoint pins the EXACT rows so a non-deterministic
            # source can't pass the check and then commit different
            # values; all caps are counted in one job, not one per column.
            cast = cast.localCheckpoint(eager=True)
            counts = cast.select(
                *[
                    F.sum((F.length(s.name) > s.length).cast("long")).alias(s.name)
                    for s in capped
                ]
            ).first()
            for s in capped:
                over = counts[s.name] or 0
                if over:
                    raise AnalyzerError(
                        f"{over} value(s) exceed VARCHAR({s.length}) for "
                        f"column '{s.name}'"
                    )
        if name in self._contracts:
            # pin the batch so the gated rows are the committed rows even
            # for a non-deterministic source
            cast = cast.localCheckpoint(eager=True)
            viol = self._gate_incoming(
                name, cast, self.spark.table(name).unionByName(cast)
            )
            if viol is not None:
                return viol  # table untouched; the report IS the result
        self._append(name, cast)
        self._stats[name].update(cast)
        self._save_stats(name)
        return None

    # -- UPDATE / DELETE / DROP (reference TODOs, README.md:51) ---------
    #
    # Plain-parquet Spark has no in-place mutation; the portable pattern
    # is rewrite.  A statement pays for its delta, not its table: one job
    # finds the touched rows and the files holding them, the statistics
    # fold those rows, and one write job rewrites only those files —
    # every other file of a durable table carries over by reference.

    def _delete(self, stmt: str) -> None:
        m = _DELETE_RE.match(stmt)
        name, where = m.group(1).lower(), m.group(2)
        if name not in self._tables:
            raise AnalyzerError(f"unknown table '{name}'")
        if not where:  # every row goes: no row needs reading
            self._stats[name].rebuild([])
            if self.storage_dir:
                vt = self._vt(name)
                self._commit(name, Delta(drop=frozenset(map(vt.relpath, vt.files()))))
            else:
                self._commit(name, self.spark.table(name).limit(0))
            self._save_stats(name)
            return None

        # standard DELETE: only rows where the predicate is TRUE go away;
        # NULL-predicate rows survive.  The same rewrite keeps the
        # table's rows and the statistics sample's.
        def keep(rows: DataFrame) -> DataFrame:
            return rows.filter(f"NOT coalesce(({where}), false)")

        hit = self._touched(name, where)
        # subtract the deleted rows' counts from the counting sketches
        # BEFORE the view swap (the heap.rs:296-311 decrement path) —
        # stats stay fresh with no rescan of the surviving table
        self._stats[name].delete_batch(
            hit.frame if hit.rows is None else hit.rows, lambda s: keep(s.alias(name))
        )
        self._rewrite(name, hit, keep)
        self._save_stats(name)
        return None

    def _update(self, stmt: str) -> None:
        m = _UPDATE_RE.match(stmt)
        name, sets_src, where = m.group(1).lower(), m.group(2), m.group(3)
        if name not in self._tables:
            raise AnalyzerError(f"unknown table '{name}'")
        types = {c.name: c.spark_type for c in self._tables[name]}
        assignments: dict[str, str] = {}
        for part in _split_top_level(sets_src):
            col, _, expr = part.partition("=")
            col = col.strip().lower()
            if col not in types:
                raise AnalyzerError(f"unknown column '{col}' in UPDATE")
            assignments[col] = expr.strip()
        cond = where if where else "true"
        sets = {c: F.expr(e).cast(types[c]) for c, e in assignments.items()}

        # columns beyond the table's (the statistics sample's __prio__)
        # pass through, so the sample takes the same rewrite
        def extra(rows: DataFrame) -> list:
            return [F.col(c) for c in rows.columns if c.lower() not in types]

        def apply_sets(rows: DataFrame) -> DataFrame:
            return rows.select(
                *[sets[c].alias(c) if c in sets else F.col(c) for c in types],
                *extra(rows),
            )

        subquery = re.search(r"\(\s*select\b", cond, re.IGNORECASE)

        def rewrite(rows: DataFrame) -> DataFrame:
            if subquery:
                # Subquery predicate (IN / EXISTS, possibly correlated):
                # Catalyst only resolves subquery expressions under
                # Filter, not inside a projection's CASE WHEN — rewrite as
                # matched ∪ untouched (each row lands in exactly one
                # branch; tables are unordered, so the union is
                # semantics-preserving)
                matched = rows.filter(f"coalesce(({cond}), false)")
                untouched = rows.filter(f"NOT coalesce(({cond}), false)")
                return apply_sets(matched).unionByName(untouched)
            return rows.select(
                *[
                    F.when(F.expr(cond), sets[c]).otherwise(F.col(c)).alias(c)
                    if c in sets
                    else F.col(c)
                    for c in types
                ],
                *extra(rows),
            )

        # stats: UPDATE = the touched slice's pre-image counts −1 and its
        # post-image +1 in one signed count (heap.rs:296-345's update
        # path pairs a delete-side and an insert-side sketch adjustment)
        # — touches only the affected rows, never rescans the table; the
        # post-image rides the job that finds the touched rows, and the
        # sample takes the same rewrite
        hit = self._touched(name, cond, tuple(sets.values()))
        if hit.rows is None:
            pre, post = hit.frame, apply_sets(hit.frame)
        else:
            pre, post = hit.rows, []
            for row, vals in zip(hit.rows, hit.extra):
                new = dict(zip(sets, vals))
                post.append(tuple(new.get(c, v) for c, v in zip(types, row)))
        self._stats[name].update(post, pre_image=pre, rewrite=lambda s: rewrite(s.alias(name)))
        self._rewrite(name, hit, rewrite)
        self._save_stats(name)
        return None

    def merge(
        self,
        target: str,
        source: DataFrame,
        key: str,
        when_matched_set: dict[str, str] | None = None,
        insert_unmatched: bool = True,
        when_not_matched_insert: dict[str, str] | None = None,
    ) -> None:
        """MERGE INTO (upsert) as a declarative rewrite — the plain-
        parquet twin of Delta/Iceberg MERGE, keyed on `key` (present in
        both sides; key NULLs never match, per standard MERGE).

        Matched target rows get the SET expressions applied (source
        columns addressable as src.<col>, target's as tgt.<col>);
        unmatched source rows are appended. One full-outer join keyed on
        the merge key; at 100 TB this becomes a partition-scoped
        overwrite of only the partitions containing matches."""
        if target not in self._tables:
            raise AnalyzerError(f"unknown table '{target}'")
        specs = self._tables[target]
        from pyspark.sql import functions as F

        # Standard MERGE raises when one target row matches several
        # source rows; a silent fan-out would duplicate target rows.
        dup = (
            source.filter(F.col(key).isNotNull())
            .groupBy(key)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise AnalyzerError(
                f"MERGE source has duplicate values for key '{key}'"
            )
        # Side presence via literal markers, not key-NULL-ness: a target
        # row whose merge key is NULL never matches (NULL = x is NULL in
        # the join) but must still be carried through UNCHANGED — keying
        # presence off tgt.<key> IS NOT NULL would misroute it into the
        # insert branch and null out every column.
        tgt = self.spark.table(target).withColumn("__tpresent__", F.lit(True)).alias("tgt")
        src = source.withColumn("__spresent__", F.lit(True)).alias("src")
        joined = tgt.join(src, F.col(f"tgt.{key}") == F.col(f"src.{key}"), "full_outer")
        t_has = F.col("tgt.__tpresent__").isNotNull()
        s_has = F.col("src.__spresent__").isNotNull()
        sets = when_matched_set or {}
        # WHEN NOT MATCHED THEN INSERT mapping; default: same-named
        # source columns, NULL elsewhere
        ins = when_not_matched_insert or {
            c.name: f"src.{c.name}" for c in specs if c.name in source.columns
        }
        out = []
        for c in specs:
            tgt_val = F.col(f"tgt.{c.name}")
            upd_val = F.expr(sets[c.name]).cast(c.spark_type) if c.name in sets else tgt_val
            src_val = (
                F.expr(ins[c.name]).cast(c.spark_type)
                if c.name in ins
                else F.lit(None).cast(c.spark_type)
            )
            out.append(
                F.when(t_has & s_has, upd_val).when(t_has, tgt_val).otherwise(src_val).alias(c.name)
            )
        result = joined if insert_unmatched else joined.filter(t_has)
        self._commit(target, result.select(*out))
        self._stats_rebuild(target)
        self._save_stats(target)
        return None

    def _drop(self, stmt: str) -> None:
        name = _DROP_RE.match(stmt).group(1).lower()
        if name not in self._tables:
            raise AnalyzerError(f"unknown table '{name}'")
        self.spark.catalog.dropTempView(name)
        del self._tables[name]
        self._stats.pop(name, None)
        self._view_base.pop(name, None)
        self._row_buf.pop(name, None)
        if self.storage_dir:
            import shutil

            shutil.rmtree(os.path.join(self.storage_dir, name), ignore_errors=True)
        return None

    def _convert(self, lit: str, spec: ColumnSpec):
        """Insert-time cast with overflow checking — the faithful twin of
        types.rs:162-203 try_convert_to, minus its checked_abs bug."""
        lit = lit.strip()
        if lit.upper() == "NULL":
            return None
        if spec.type_name in _INT_RANGES:
            try:
                v = int(lit)
            except ValueError as e:
                raise AnalyzerError(f"cannot cast {lit!r} to {spec.type_name}") from e
            lo, hi = _INT_RANGES[spec.type_name]
            if not lo <= v <= hi:
                raise AnalyzerError(f"value {v} out of range for {spec.type_name}")
            return v
        if spec.type_name == "varchar":
            if not (lit.startswith("'") and lit.endswith("'")):
                raise AnalyzerError(f"expected string literal, got {lit!r}")
            s = lit[1:-1].replace("''", "'")
            # VARCHAR(n) length enforcement at insert — types.rs:182-191
            if spec.length is not None and len(s) > spec.length:
                raise AnalyzerError(
                    f"string length {len(s)} exceeds VARCHAR({spec.length})"
                )
            return s
        raise AnalyzerError(f"unsupported insert type {spec.type_name}")
