"""Three-level named-table catalog over :class:`LogTable`.

Parity target: the reference addresses every table as
``catalog.schema.table`` through Unity Catalog
(``/root/reference/src/delta_utils.py:27-77``,
``src/config.py:50-56``); this module provides the same naming layer
for the log-table format, with two access paths:

- :meth:`Catalog.sql` — programmatic SQL over registered names. Each
  referenced table is bound as a temp view from ``LogTable.read()``
  (always the correct current snapshot, stats-pruned, schema-evolved).
- :meth:`Catalog.bind` — publishes session-catalog views so PLAIN
  ``spark.table("silver.users")`` / ``spark.sql`` resolve the table
  with no wrapper. The view body is a *manifest*: the current
  snapshot's file list, one UNION branch per partition with the
  partition values inlined as literals. Constant folding prunes
  non-matching branches under a partition predicate, so partition
  pruning survives the view. Views pin the snapshot at bind time —
  call :meth:`bind` again (cheap, metadata-only) after writes.

At 100 TB the manifest view is the compatibility shim, not the main
path: ``Catalog.sql``/``read`` bind the live snapshot and are what
pipelines should use; a production deployment would back this registry
with a real metastore.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .logtable import LogTable, _partition_values

_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _q(ident: str) -> str:
    return f"`{ident}`"


def _sql_str(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


# String literals ('' / "" with doubled-quote escapes), line comments and
# block comments must be opaque to the table-name rewrite: a WHERE clause
# like ``note = 'see silver.users'`` must not have its literal rewritten.
_MASK_RE = re.compile(
    r"('(?:[^']|'')*')"      # '...' (with '' escape)
    r"|(\"(?:[^\"]|\"\")*\")"  # "..." (with "" escape)
    r"|(--[^\n]*)"            # -- line comment
    r"|(/\*.*?\*/)",          # /* block comment */
    re.S,
)


def _mask_literals(sql: str) -> tuple[str, list[str]]:
    """Replace literals/comments with \\x00<i>\\x00 placeholders so the
    name-substitution regexes only see real identifier territory."""
    stash: list[str] = []

    def repl(m: re.Match) -> str:
        stash.append(m.group(0))
        return f"\x00{len(stash) - 1}\x00"

    return _MASK_RE.sub(repl, sql), stash


def _unmask_literals(sql: str, stash: list[str]) -> str:
    return re.sub(r"\x00(\d+)\x00", lambda m: stash[int(m.group(1))], sql)


class Catalog:
    """Named-table registry rooted at ``root`` (tables may live
    anywhere; the registry is one JSON file of name → path)."""

    def __init__(
        self, spark: SparkSession, root: str, default_catalog: str = "lake"
    ):
        self.spark = spark
        self.root = os.path.abspath(root)
        self.default_catalog = default_catalog
        os.makedirs(self.root, exist_ok=True)

    # ---- registry ----------------------------------------------------

    @property
    def _registry_path(self) -> str:
        return os.path.join(self.root, "catalog.json")

    def _load(self) -> dict[str, str]:
        if not os.path.exists(self._registry_path):
            return {}
        with open(self._registry_path) as fh:
            return json.load(fh)

    def _save(self, reg: dict[str, str]) -> None:
        tmp = self._registry_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(reg, fh, indent=1, sort_keys=True)
        os.replace(tmp, self._registry_path)

    def resolve_name(self, name: str) -> tuple[str, str, str]:
        """``table`` / ``schema.table`` / ``catalog.schema.table`` →
        full 3-level tuple (reference config.py:50-56 defaulting)."""
        parts = name.split(".")
        if len(parts) == 1:
            parts = [self.default_catalog, "default", parts[0]]
        elif len(parts) == 2:
            parts = [self.default_catalog, *parts]
        elif len(parts) != 3:
            raise ValueError(f"invalid table name: {name!r}")
        for p in parts:
            if not _NAME_RE.match(p):
                raise ValueError(f"invalid identifier {p!r} in {name!r}")
        return tuple(parts)  # type: ignore[return-value]

    def _fq(self, name: str) -> str:
        return ".".join(self.resolve_name(name))

    # ---- table lifecycle ---------------------------------------------

    def create_table(
        self,
        name: str,
        schema: T.StructType,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        path: str | None = None,
    ) -> LogTable:
        """CREATE TABLE catalog.schema.table (delta_utils.py:27-77):
        managed location ``<root>/<catalog>/<schema>/<table>`` unless an
        external ``path`` is given."""
        fq = self._fq(name)
        reg = self._load()
        if fq in reg:
            return LogTable(self.spark, reg[fq])
        if fq in self._load_views():
            raise ValueError(f"cannot CREATE TABLE {fq}: a view has that name")
        location = path or os.path.join(self.root, *fq.split("."))
        t = LogTable.create(
            self.spark, location, schema, partition_by=partition_by,
            properties=properties,
        )
        reg[fq] = t.path
        self._save(reg)
        return t

    def register(self, name: str, path: str) -> None:
        """Attach an existing log table under a name (external table)."""
        t = LogTable(self.spark, path)
        if not t.exists():
            raise FileNotFoundError(f"no log table at {path}")
        fq = self._fq(name)
        if fq in self._load_views():
            raise ValueError(f"cannot register table {fq}: a view has that name")
        reg = self._load()
        reg[fq] = t.path
        self._save(reg)

    def drop(self, name: str) -> None:
        reg = self._load()
        reg.pop(self._fq(name), None)
        self._save(reg)

    def tables(self) -> list[str]:
        return sorted(self._load())

    def table(self, name: str) -> LogTable:
        fq = self._fq(name)
        reg = self._load()
        if fq not in reg:
            raise KeyError(f"table not found: {fq}")
        return LogTable(self.spark, reg[fq])

    def read(self, name: str, version: int | None = None) -> DataFrame:
        return self.table(name).read(version=version)

    def audit_foreign_keys(self) -> DataFrame:
        """Audit every INFORMATIONAL foreign key declared in the
        catalog (``ALTER TABLE … ADD CONSTRAINT … FOREIGN KEY …
        REFERENCES …``): per constraint, the child's orphan count —
        rows whose FK values have no parent. Nothing enforces FKs at
        lakehouse write time, so this scan (NO broadcast hint — the
        parent key set can be fact-sized; AQE decides, same posture as
        q163's ``fk_orphans``) is the integrity screen a warehouse
        CHECK would have given you.

        SQL FK semantics (MATCH SIMPLE, the Databricks/warehouse
        default): a child row with NULL in ANY FK column satisfies the
        constraint — it is never an orphan. Those rows are surfaced
        separately as ``n_null_keys``.

        ONE pass per constraint: a left join against the distinct
        parent-key set with a hit marker, then a single conditional
        agg computing (n_rows, n_orphans, n_null_keys) together — no
        second child scan for the row count. When a child table
        carries several FK constraints its scan is cached across them
        and released afterwards.

        Returns (child_table, constraint_name, referenced, n_orphans,
        n_null_keys, n_rows)."""
        from pyspark.sql import functions as F

        by_child: dict[str, list[tuple[str, str]]] = {}
        for name in self.tables():
            for prop, spec in sorted(self.table(name).properties().items()):
                if prop.startswith("fk."):
                    by_child.setdefault(name, []).append(
                        (prop[len("fk."):], spec)
                    )
        rows = []
        for name, constraints in sorted(by_child.items()):
            child = self.table(name).read()
            if len(constraints) > 1:
                child = child.cache()
            for cname, spec in constraints:
                child_cols_s, _, rest = spec.partition("->")
                parent_name, _, pcols_s = rest.partition("(")
                parent_cols = [
                    c.strip() for c in pcols_s.rstrip(")").split(",")
                ]
                child_cols = [c.strip() for c in child_cols_s.split(",")]
                parent_keys = (
                    self.table(parent_name)
                    .read()
                    .select(
                        *[
                            F.col(pc).alias(cc)
                            for pc, cc in zip(parent_cols, child_cols)
                        ]
                    )
                    .distinct()
                    .withColumn("__fk_hit", F.lit(1))
                )
                any_null = F.greatest(
                    *[F.col(c).isNull() for c in child_cols]
                ) if len(child_cols) > 1 else F.col(child_cols[0]).isNull()
                agg = (
                    child.select(*child_cols)
                    .join(parent_keys, child_cols, "left")
                    .agg(
                        F.count(F.lit(1)).alias("n_rows"),
                        F.sum(
                            F.when(
                                F.col("__fk_hit").isNull() & ~any_null, 1
                            ).otherwise(0)
                        ).alias("n_orphans"),
                        F.sum(F.when(any_null, 1).otherwise(0)).alias(
                            "n_null_keys"
                        ),
                    )
                    .collect()[0]
                )
                rows.append(
                    (name, cname, spec, int(agg["n_orphans"] or 0),
                     int(agg["n_null_keys"] or 0), int(agg["n_rows"]))
                )
            if len(constraints) > 1:
                child.unpersist()
        return self.spark.createDataFrame(
            rows,
            "child_table string, constraint_name string, referenced string, "
            "n_orphans long, n_null_keys long, n_rows long",
        )

    def audit_primary_keys(self) -> DataFrame:
        """Audit every INFORMATIONAL primary key declared in the
        catalog: per constraint, how many declared-unique key values
        occur more than once (and the duplicate row surplus). The
        uniqueness screen a warehouse PK would have enforced — ONE
        group-keyed count per table, never a self-join.

        ONE pass per constraint: the per-key grouped count feeds a
        single conditional agg computing (n_duplicate_keys,
        n_surplus_rows, n_rows = Σ per-key counts) together — no
        trailing full-table ``count()``.

        Returns (table, constraint_name, columns, n_duplicate_keys,
        n_surplus_rows, n_rows)."""
        from pyspark.sql import functions as F

        rows = []
        for name in self.tables():
            t = self.table(name)
            for prop, spec in sorted(t.properties().items()):
                if not prop.startswith("pk."):
                    continue
                cols = [c.strip() for c in spec.split(",")]
                df = t.read()
                dup = (
                    df.groupBy(*cols)
                    .agg(F.count(F.lit(1)).alias("n"))
                    .agg(
                        F.sum(
                            F.when(F.col("n") > 1, 1).otherwise(0)
                        ).alias("dup_keys"),
                        F.sum(
                            F.when(F.col("n") > 1, F.col("n") - 1)
                            .otherwise(0)
                        ).alias("surplus"),
                        F.coalesce(F.sum("n"), F.lit(0)).alias("n_rows"),
                    )
                    .collect()[0]
                )
                rows.append(
                    (name, prop[len("pk."):], spec,
                     int(dup.dup_keys or 0), int(dup.surplus or 0),
                     int(dup.n_rows))
                )
        return self.spark.createDataFrame(
            rows,
            "table string, constraint_name string, columns string, "
            "n_duplicate_keys long, n_surplus_rows long, n_rows long",
        )

    # ---- named views --------------------------------------------------

    @property
    def _views_path(self) -> str:
        return os.path.join(self.root, "views.json")

    def _load_views(self) -> dict[str, str]:
        if not os.path.exists(self._views_path):
            return {}
        with open(self._views_path) as fh:
            return json.load(fh)

    def _save_views(self, reg: dict[str, str]) -> None:
        tmp = self._views_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(reg, fh, indent=1, sort_keys=True)
        os.replace(tmp, self._views_path)

    def create_view(
        self, name: str, body: str, or_replace: bool = False
    ) -> None:
        """CREATE [OR REPLACE] VIEW name AS <select>: stores the SELECT
        text; every later reference re-binds it against the CURRENT
        snapshot of the tables it names (live-view semantics, like a
        metastore view over Delta tables). The body is analyzed now so
        a broken view fails at definition time, not first use."""
        fq = self._fq(name)
        if fq in self._load():
            raise ValueError(f"cannot CREATE VIEW {fq}: a table has that name")
        views = self._load_views()
        if fq in views and not or_replace:
            raise ValueError(f"view already exists: {fq} (use OR REPLACE)")
        probe = dict(views)
        probe[fq] = body
        # analyze through the stored registry state so self-references
        # (a view redefined in terms of itself) are caught as cycles
        old, self._views_override = getattr(self, "_views_override", None), probe
        try:
            self.sql(body).schema  # analysis only — no job
        finally:
            self._views_override = old
        views[fq] = body
        self._save_views(views)

    def drop_view(self, name: str, if_exists: bool = False) -> None:
        fq = self._fq(name)
        views = self._load_views()
        if fq not in views:
            if if_exists:
                return
            raise KeyError(f"view not found: {fq}")
        views.pop(fq)
        self._save_views(views)

    def views(self) -> list[str]:
        return sorted(self._load_views())

    # ---- SQL over registered names -----------------------------------

    def sql(self, query: str) -> DataFrame:
        """Run SQL referencing registered names. Delta-dialect utility
        statements (OPTIMIZE / VACUUM / DESCRIBE HISTORY / RESTORE /
        UPDATE / DELETE / MERGE INTO — see :mod:`.sqlrouter`) dispatch
        to the LogTable API; ``name VERSION AS OF n`` / ``name
        TIMESTAMP AS OF '<ts>'`` references bind that SNAPSHOT (Delta's
        SQL time travel — mixable with current-snapshot references in
        one statement); everything else binds every referenced
        registered name (longest-first, word-bounded) as a temp view of
        the table's CURRENT snapshot and rewrites the query text —
        correct for every table state (schema evolution, time travel
        via ``read()``'s replay)."""
        from .sqlrouter import route

        routed = route(self, query)
        if routed is not None:
            return routed
        reg = self._load()
        # Mask string literals and comments so names inside them survive
        # the rewrite untouched (ADVICE r3), and make the temp-view name
        # injective via a short fq-hash — plain underscore-joining maps
        # a.b_c.d and a_b.c.d to the same view (ADVICE r3).
        rewritten, stash = _mask_literals(query)
        # Named views: substitute each referenced view with a temp view
        # bound to its (recursively expanded) SELECT body — live-view
        # semantics against the tables' current snapshots. Expansion
        # happens before table binding so view bodies go through the
        # full pipeline (time travel, TVFs, nested views) themselves.
        views = getattr(self, "_views_override", None)
        if views is None:
            views = self._load_views()
        if views:
            expanding: set[str] = getattr(self, "_expanding_views", set())
            vlookup: dict[str, str] = {}
            for fq in views:
                vcat, vsch, vtbl = fq.split(".")
                vlookup[fq] = fq
                if vcat == self.default_catalog:
                    vlookup.setdefault(f"{vsch}.{vtbl}", fq)
                    if vsch == "default":
                        vlookup.setdefault(vtbl, fq)
            for ref in sorted(vlookup, key=len, reverse=True):
                fq = vlookup[ref]
                pat = re.compile(
                    r"(?<![\w.`])" + re.escape(ref) + r"(?![\w.`])"
                )
                if not pat.search(rewritten):
                    continue
                if fq in expanding:
                    raise ValueError(f"view cycle detected at {fq}")
                view_name = (
                    f"__vw_{fq.split('.')[-1]}_"
                    f"{hashlib.md5(fq.encode()).hexdigest()[:8]}"
                )
                self._expanding_views = expanding | {fq}
                try:
                    vdf = self.sql(views[fq])
                finally:
                    self._expanding_views = expanding
                vdf.createOrReplaceTempView(view_name)
                rewritten = pat.sub(view_name, rewritten)
        # Delta SQL time travel: `name VERSION AS OF n` / `name
        # TIMESTAMP AS OF '<ts>'` binds a snapshot view of that version
        # (the literal is already masked — recover it from the stash).
        lookup: dict[str, str] = {}
        for fq in reg:
            cat, sch, tbl = fq.split(".")
            lookup[fq] = fq
            if cat == self.default_catalog:
                lookup.setdefault(f"{sch}.{tbl}", fq)
        tt_views: dict[str, object] = {}
        if lookup:
            names_alt = "|".join(
                re.escape(n) for n in sorted(lookup, key=len, reverse=True)
            )
            tt_pat = re.compile(
                r"(?<![\w.`])(" + names_alt + r")\s+"
                r"(?:VERSION\s+AS\s+OF\s+(\d+)"
                r"|TIMESTAMP\s+AS\s+OF\s+\x00(\d+)\x00)",
                re.I,
            )

            def _tt_sub(m: re.Match) -> str:
                fq = lookup[m.group(1)]
                t = LogTable(self.spark, reg[fq])
                if m.group(2) is not None:
                    ver: int | None = int(m.group(2))
                    snap = t.read(version=ver)
                    tag = f"v{ver}"
                else:
                    from datetime import datetime
                    from zoneinfo import ZoneInfo

                    lit = stash[int(m.group(3))].strip("'\"")
                    dt = datetime.fromisoformat(lit)
                    if dt.tzinfo is None:
                        # naive literal = Spark session timezone (what
                        # Delta/Spark use for timestamp literals), not
                        # hardcoded UTC — on a non-UTC session the two
                        # pin different snapshots
                        tz = self.spark.conf.get(
                            "spark.sql.session.timeZone", "UTC"
                        )
                        dt = dt.replace(tzinfo=ZoneInfo(tz))
                    epoch = dt.timestamp()
                    snap = t.read(timestamp=epoch)
                    tag = f"t{int(epoch)}"
                view = (
                    f"__tt_{fq.split('.')[-1]}_"
                    f"{hashlib.md5(f'{fq}@{tag}'.encode()).hexdigest()[:8]}"
                )
                tt_views[view] = snap
                return view

            rewritten = tt_pat.sub(_tt_sub, rewritten)
        # Delta's CDF table-valued function: table_changes('name',
        # start [, end]) binds the change feed as a view (the name is a
        # masked string literal — recover it from the stash).
        tc_pat = re.compile(
            r"\bTABLE_CHANGES\s*\(\s*\x00(\d+)\x00\s*,\s*(\d+)\s*"
            r"(?:,\s*(\d+)\s*)?\)",
            re.I,
        )

        def _tc_sub(m: re.Match) -> str:
            name = stash[int(m.group(1))].strip("'\"")
            fq = lookup.get(name)
            if fq is None:
                raise KeyError(f"table_changes: table not found: {name}")
            start = int(m.group(2))
            end = int(m.group(3)) if m.group(3) is not None else None
            ch = LogTable(self.spark, reg[fq]).read_changes(
                starting_version=start, ending_version=end
            )
            view = (
                f"__tc_{fq.split('.')[-1]}_"
                f"{hashlib.md5(f'{fq}@{start}-{end}'.encode()).hexdigest()[:8]}"
            )
            tt_views[view] = ch
            return view

        rewritten = tc_pat.sub(_tc_sub, rewritten)
        # row-tracking TVF: table_with_row_ids('name') binds the
        # snapshot WITH _row_id / _row_commit_version (the SQL spelling
        # of read(row_tracking=True) — Databricks exposes the same
        # metadata on row-tracked tables).
        rt_pat = re.compile(
            r"\bTABLE_WITH_ROW_IDS\s*\(\s*\x00(\d+)\x00\s*\)", re.I
        )

        def _rt_sub(m: re.Match) -> str:
            name = stash[int(m.group(1))].strip("'\"")
            fq = lookup.get(name)
            if fq is None:
                raise KeyError(f"table_with_row_ids: table not found: {name}")
            snap = LogTable(self.spark, reg[fq]).read(row_tracking=True)
            view = (
                f"__rt_{fq.split('.')[-1]}_"
                f"{hashlib.md5(fq.encode()).hexdigest()[:8]}"
            )
            tt_views[view] = snap
            return view

        rewritten = rt_pat.sub(_rt_sub, rewritten)
        for view, snap in tt_views.items():
            snap.createOrReplaceTempView(view)
        aliases: dict[str, str] = {}
        for fq in sorted(reg, key=len, reverse=True):
            cat, sch, tbl = fq.split(".")
            view = f"__cat_{tbl}_{hashlib.md5(fq.encode()).hexdigest()[:8]}"
            pat = re.compile(
                r"(?<![\w.`])("
                + re.escape(fq)
                + "|"
                + re.escape(f"{sch}.{tbl}")
                + r")(?![\w.`])"
            ) if cat == self.default_catalog else re.compile(
                r"(?<![\w.`])" + re.escape(fq) + r"(?![\w.`])"
            )
            new, n = pat.subn(view, rewritten)
            if n:
                rewritten = new
                aliases[fq] = view
        rewritten = _unmask_literals(rewritten, stash)
        for fq, view in aliases.items():
            LogTable(self.spark, reg[fq]).read().createOrReplaceTempView(view)
        return self.spark.sql(rewritten)

    # ---- session-catalog binding (plain spark.table / spark.sql) -----

    def _database_for(self, cat: str, sch: str) -> str:
        return sch if cat == self.default_catalog else f"{cat}_{sch}"

    # Above this many partition branches the UNION-ALL manifest stops
    # scaling: view text and (worse) analyzer cost are O(branches × cols).
    # Past the cap, bind() switches to a single-scan body that recovers
    # partition columns from _metadata.file_path — pruning degrades from
    # constant-folded branch elimination to a plain filter, correctness
    # is unchanged (file list is still snapshot-exact via basename glob).
    MAX_MANIFEST_BRANCHES = 64

    def _single_scan_body(
        self, t: LogTable, files, schema: T.StructType, partition_by: list[str]
    ) -> str | None:
        """One ``parquet.`` scan over a basename brace-glob (basenames
        are writer-generated UUIDs, so stale files in sibling partition
        dirs cannot collide), partition columns re-derived per row from
        the file path with the same decoding as
        :func:`logtable._partition_values`. Returns None when a basename
        contains glob metacharacters (never for our writer)."""
        names = sorted({os.path.basename(f.path) for f in files})
        if any(ch in n for n in names for ch in ",{}*?[]\\"):
            return None
        depth = max(f.path.count("/") for f in files)
        if depth != min(f.path.count("/") for f in files):
            return None  # mixed layouts: keep the per-partition form
        glob = "/".join(["*"] * depth + ["{" + ",".join(names) + "}"])
        sel = []
        for fld in schema.fields:
            if fld.name in partition_by:
                seg = (
                    f"regexp_extract(_metadata.file_path, "
                    f"'/{re.escape(fld.name)}=([^/]+)/', 1)"
                )
                # _metadata.file_path is a URI: the literal '%' of the
                # writer's hive escaping is itself URI-encoded (%3A →
                # %253A), so decode twice — once undoing URI encoding,
                # once undoing the writer's escaping. url_decode treats
                # '+' as space (form encoding) but neither encoder
                # escapes a literal '+', so protect it before each pass.
                dec1 = f"url_decode(replace({seg}, '+', '%2B'))"
                dec2 = f"url_decode(replace({dec1}, '+', '%2B'))"
                val = (
                    f"CASE WHEN {seg} = '__HIVE_DEFAULT_PARTITION__' THEN NULL "
                    f"ELSE {dec2} END"
                )
                sel.append(
                    f"CAST({val} AS {fld.dataType.simpleString()}) AS {_q(fld.name)}"
                )
            else:
                sel.append(_q(fld.name))
        return f"SELECT {', '.join(sel)} FROM parquet.`{t.path}/{glob}`"

    def _manifest_body(self, t: LogTable) -> str:
        """Snapshot-pinned view text: one branch per partition, data
        columns from an explicit file-list parquet scan, partition
        columns inlined as typed literals (folded → branch pruning).
        Falls back to a single-scan body past MAX_MANIFEST_BRANCHES."""
        snap = t.snapshot()
        files, schema, partition_by = snap.files, snap.schema, snap.partition_by
        if not files:
            cols = ", ".join(
                f"CAST(NULL AS {f.dataType.simpleString()}) AS {_q(f.name)}"
                for f in schema.fields
            )
            return f"SELECT {cols} WHERE 1=0"
        groups: dict[tuple, list[str]] = {}
        for f in files:
            pv = _partition_values(f.path)
            key = tuple(pv.get(c) for c in partition_by)
            groups.setdefault(key, []).append(os.path.join(t.path, f.path))
        if partition_by and len(groups) > self.MAX_MANIFEST_BRANCHES:
            body = self._single_scan_body(t, files, schema, partition_by)
            if body is not None:
                return body
        branches = []
        for key, paths in sorted(groups.items(), key=lambda kv: str(kv[0])):
            unsafe = any(ch in p for p in paths for ch in ",{}")
            by_dir: dict[str, list[str]] = {}
            for p in paths:
                by_dir.setdefault(os.path.dirname(p), []).append(os.path.basename(p))
            scans = []
            for d, names_ in sorted(by_dir.items()):
                if len(names_) == 1:
                    scans.append(f"parquet.`{d}/{names_[0]}`")
                elif unsafe:
                    scans += [f"parquet.`{d}/{n}`" for n in names_]
                else:
                    # glob braces must sit inside a path component:
                    # dir/{f1,f2} — a fully-braced absolute path is
                    # treated as relative
                    scans.append("parquet.`" + d + "/{" + ",".join(sorted(names_)) + "}`")
            sel = []
            for fld in schema.fields:
                if fld.name in partition_by:
                    v = key[partition_by.index(fld.name)]
                    lit = "NULL" if v is None else _sql_str(v)
                    sel.append(
                        f"CAST({lit} AS {fld.dataType.simpleString()}) AS {_q(fld.name)}"
                    )
                else:
                    sel.append(_q(fld.name))
            branches += [f"SELECT {', '.join(sel)} FROM {s}" for s in scans]
        return " UNION ALL ".join(branches)

    def bind(self, names: list[str] | None = None) -> None:
        """Publish (or refresh) session-catalog views for the given
        names (default: every registered table). After this,
        ``spark.table("silver.users")`` and raw ``spark.sql`` resolve
        them directly."""
        reg = self._load()
        fqs = [self._fq(n) for n in names] if names is not None else list(reg)
        for fq in fqs:
            if fq not in reg:
                raise KeyError(f"table not found: {fq}")
            cat, sch, tbl = fq.split(".")
            db = self._database_for(cat, sch)
            t = LogTable(self.spark, reg[fq])
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {_q(db)}")
            self.spark.sql(
                f"CREATE OR REPLACE VIEW {_q(db)}.{_q(tbl)} AS {self._manifest_body(t)}"
            )

    def unbind(self, names: list[str] | None = None) -> None:
        reg = self._load()
        fqs = [self._fq(n) for n in names] if names is not None else list(reg)
        for fq in fqs:
            cat, sch, tbl = fq.split(".")
            db = self._database_for(cat, sch)
            self.spark.sql(f"DROP VIEW IF EXISTS {_q(db)}.{_q(tbl)}")
