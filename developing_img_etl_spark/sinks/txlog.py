"""TxLogFormat — a real TRANSACTIONAL TableFormat (SURVEY.md §2.1 S8;
VERDICT r3 "What's missing" #5): snapshot-isolated reads, atomic
commits, optimistic writer-writer conflict detection, and time travel,
on nothing but a filesystem — the Delta-lake commit-protocol shape
(an ordered log of add/remove file actions; the log, not the
directory listing, is the table) implemented against the same four-
method seam as ParquetFormat.

Protocol (public knowledge — the Delta Lake paper, VLDB 2020):

  table/
    _txlog/00000000.json   {"version":0,"add":[...],"remove":[...]}
    _txlog/00000001.json
    data-<uuid>-part-*.parquet

- A reader lists `_txlog/*.json`, replays add/remove up to the target
  version, and reads exactly the live file set — it can NEVER observe
  a half-written table, because data files are written (invisible to
  the log) before the commit record exists.
- A writer stages parquet to a scratch dir, moves the files in under a
  fresh uuid prefix, then commits by `os.link`-ing a temp record to
  `_txlog/<version>.json` — link(2) fails with EEXIST if a concurrent
  writer claimed the version first, which IS the conflict detection:
  the loser re-reads and retries. No locks, no coordination service.
- Overwrite = one commit whose record removes every live file and adds
  the new ones: readers see the old or the new snapshot, never a gap —
  the property ParquetFormat.overwrite cannot give (delete-then-write).
- Old versions stay readable (`read(..., version=k)`) until a
  `vacuum()` drops files no live-or-retained version references.
- Each `add` action carries **per-file column statistics** (row count,
  min/max/null-count per leaf column, harvested from the parquet
  footer at stage time — a metadata read, never a data scan). Readers
  use them for **file skipping** (`read(..., where=[...])` prunes
  files whose min/max range cannot satisfy the predicate — Delta's
  data-skipping index), and `merge_into` uses them to rewrite ONLY the
  files whose key ranges intersect the update set — the native
  MERGE INTO shape (scan-prune → rewrite touched files → one commit)
  rather than the full-table anti-join+union fallback.

Scale notes: the log is O(commits) JSON records, replayed driver-side
(Delta does exactly this, with periodic checkpoints of the replayed
state — `checkpoint_every` commits here writes a consolidated snapshot
that replay seeds from, keeping driver cost O(checkpoint_every) rather
than O(commits)); data moves are file renames, never
rewrites; and the commit record is one atomic metadata operation
regardless of data volume. On object stores without atomic rename the
commit step is swapped for a put-if-absent — the seam stays the same.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import shutil
import tempfile
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

_LOG_DIR = "_txlog"


class TxConflict(RuntimeError):
    """A concurrent writer committed the version this writer staged."""


def _log_dir(path: str) -> str:
    return os.path.join(path, _LOG_DIR)


def _record_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:08d}.json")


def _versions(path: str) -> list[int]:
    d = _log_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(d) if f.endswith(".json") and f[:-5].isdigit()
    )


def _norm(v):
    """JSON-safe, order-preserving normal form shared by the stats
    writer and the predicate evaluator (so comparisons line up):
    dates/timestamps → ISO strings (lexicographic == chronological),
    Decimal → float, bytes → utf-8 or unusable (None)."""
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None


def _file_stats(fp: str) -> tuple[int, dict]:
    """(row_count, {col: [min, max, null_count]}) from the parquet
    FOOTER — a metadata read, no data scan. Columns whose stats are
    absent or non-normalizable in any row group are omitted (readers
    treat missing stats as 'cannot prune' — always safe)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fp).metadata
    stats: dict[str, list] = {}
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name in bad:
                continue
            s = col.statistics
            if s is None or not s.has_min_max:
                bad.add(name)
                continue
            mn, mx = _norm(s.min), _norm(s.max)
            nulls = s.null_count if s.has_null_count else 0
            if mn is None or mx is None:
                bad.add(name)
                continue
            if name in stats:
                cur = stats[name]
                cur[0] = min(cur[0], mn)
                cur[1] = max(cur[1], mx)
                cur[2] += nulls
            else:
                stats[name] = [mn, mx, nulls]
    for name in bad:
        stats.pop(name, None)
    return md.num_rows, stats


def _checkpoint_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:08d}.checkpoint.json")


def _checkpoints(path: str) -> list[int]:
    d = _log_dir(path)
    if not os.path.isdir(d):
        return []
    suffix = ".checkpoint.json"
    return sorted(
        int(f[: -len(suffix)])
        for f in os.listdir(d)
        if f.endswith(suffix) and f[: -len(suffix)].isdigit()
    )


def _replay_state(path: str, version: int | None = None) -> tuple[list[dict], str | None]:
    """(live add-actions, latest logged schema JSON) at `version`
    (latest if None), actions sorted by file name. Replay seeds from
    the newest usable checkpoint ≤ target (Delta's checkpoint trick:
    driver cost O(checkpoint_every), not O(commits)); a torn/corrupt
    checkpoint falls back to full log replay — commits remain the only
    source of truth. Accepts both the v0 record shape
    (add = [name, ...]) and the stats-bearing dict shape."""
    live: dict[str, dict] = {}
    schema: str | None = None
    start = -1
    for cp in reversed([c for c in _checkpoints(path) if version is None or c <= version]):
        try:
            with open(_checkpoint_path(path, cp)) as f:
                snap = json.load(f)
            live = {a["path"]: a for a in snap["live"]}
            schema = snap.get("schema")
            start = cp
            break
        except (OSError, ValueError, KeyError, TypeError):
            live, schema = {}, None  # unusable checkpoint: try older / full replay
    for v in _versions(path):
        if v <= start:
            continue
        if version is not None and v > version:
            break
        with open(_record_path(path, v)) as f:
            rec = json.load(f)
        for name in rec.get("remove", []):
            live.pop(name, None)
        for a in rec.get("add", []):
            if isinstance(a, str):
                a = {"path": a, "rows": None, "stats": {}}
            live[a["path"]] = a
        schema = rec.get("schema", schema)
    return [live[k] for k in sorted(live)], schema


def _replay_actions(path: str, version: int | None = None) -> list[dict]:
    return _replay_state(path, version)[0]


def _replay_txn(path: str, version: int | None = None) -> dict[str, int]:
    """{app_id: highest committed batch id} at `version`, seeded from
    the newest checkpoint that carries a txn map (older checkpoints
    without one fall back to a full scan) — the same folding Delta does
    for setTransaction actions, keeping the streaming sink's per-batch
    marker check O(checkpoint_every), not O(commits)."""
    txn: dict[str, int] = {}
    start = -1
    for cp in reversed([c for c in _checkpoints(path) if version is None or c <= version]):
        try:
            with open(_checkpoint_path(path, cp)) as f:
                snap = json.load(f)
            folded = snap.get("txn")
            if not isinstance(folded, dict):
                continue  # pre-txn-folding checkpoint: try older / full scan
            txn = {str(a): int(b) for a, b in folded.items()}
            start = cp
            break
        except (OSError, ValueError, KeyError, TypeError):
            txn = {}
    for v in _versions(path):
        if v <= start:
            continue
        if version is not None and v > version:
            break
        with open(_record_path(path, v)) as f:
            t = json.load(f).get("txn")
        if t and "app" in t:
            app = str(t["app"])
            txn[app] = max(txn.get(app, -1), int(t["batch"]))
    return txn


def _replay(path: str, version: int | None = None) -> list[str]:
    """Live file names (relative) at `version` (latest if None)."""
    return [a["path"] for a in _replay_actions(path, version)]


_PRUNE_OPS = {"==", "!=", "<", "<=", ">", ">=", "in"}


def _file_may_match(action: dict, where: Sequence[tuple]) -> bool:
    """Can this file possibly contain a row satisfying ALL predicates?
    Missing stats for a column → cannot prune on it (keep the file)."""
    stats = action.get("stats") or {}
    for col, op, val in where:
        st = stats.get(col)
        if st is None:
            continue
        mn, mx, _nulls = st
        vals = [_norm(v) for v in (val if op == "in" else [val])]
        if any(v is None for v in vals):
            continue
        try:
            if op in ("==",):
                if not (mn <= vals[0] <= mx):
                    return False
            elif op == "in":
                if not any(mn <= v <= mx for v in vals):
                    return False
            elif op == "<":
                if not (mn < vals[0]):
                    return False
            elif op == "<=":
                if not (mn <= vals[0]):
                    return False
            elif op == ">":
                if not (mx > vals[0]):
                    return False
            elif op == ">=":
                if not (mx >= vals[0]):
                    return False
            elif op == "!=":
                if mn == mx == vals[0]:
                    return False
        except TypeError:
            # predicate value type doesn't compare with the stored stats
            # (e.g. string literal vs int column): pruning is only an
            # optimization — keep the file, the plan filter decides
            continue
    return True


def _where_expr(where: Sequence[tuple]):
    """The exact Column predicate for the residual filter (pruning is
    an optimization; the filter is the semantics)."""
    expr = F.lit(True)
    for col, op, val in where:
        c = F.col(col)
        if op == "in":
            e = c.isin(list(val))
        elif op == "==":
            e = c == val
        elif op == "!=":
            e = c != val
        elif op == "<":
            e = c < val
        elif op == "<=":
            e = c <= val
        elif op == ">":
            e = c > val
        else:
            e = c >= val
        expr = expr & e
    return expr


class TxLogFormat:
    """Transaction-log table format; same seam as ParquetFormat."""

    def __init__(self, max_commit_retries: int = 10, checkpoint_every: int = 10):
        self.max_commit_retries = max_commit_retries
        self.checkpoint_every = checkpoint_every

    # -- commit protocol ---------------------------------------------------
    def _stage(
        self,
        df: DataFrame,
        path: str,
        partition_cols: Sequence[str] | None = None,
    ) -> list[dict]:
        """Write df's parquet files into the table dir under a fresh
        uuid prefix (invisible until a commit record references them);
        returns the add-actions (name + footer-harvested stats). With
        ``partition_cols`` the layout is hive-style (`col=value/` dirs);
        each file's partition values are folded into its STATS as
        point ranges (min == max), so ``read(where=)`` and
        ``merge_into`` prune partitioned files through the exact same
        code path as data-derived stats — partition pruning IS stats
        pruning on a degenerate interval."""
        os.makedirs(path, exist_ok=True)
        scratch = tempfile.mkdtemp(prefix="txstage_")
        # hive path segments are strings; coerce partition values back
        # through the DataFrame's own field types so the stats ranges
        # compare against typed predicates (an int partition stored as
        # '2024' would never prune against where ('year','==',2024))
        ptypes = {f.name: f.dataType.simpleString() for f in df.schema.fields}

        def _coerce(col: str, v: str):
            if v == "__HIVE_DEFAULT_PARTITION__":
                return None
            t = ptypes.get(col, "string")
            try:
                if t in ("tinyint", "smallint", "int", "bigint"):
                    return int(v)
                if t in ("float", "double") or t.startswith("decimal"):
                    return float(v)
                if t == "boolean":
                    return v.lower() == "true"
            except ValueError:
                return None
            return v  # string/date/timestamp: ISO strings order correctly

        try:
            writer = df.write.mode("overwrite")
            if partition_cols:
                writer = writer.partitionBy(*partition_cols)
            writer.parquet(scratch)
            prefix = f"data-{uuid.uuid4().hex}"
            actions = []
            for dirpath, _dirs, files in sorted(os.walk(scratch)):
                rel_dir = os.path.relpath(dirpath, scratch)
                for f in sorted(files):
                    if not f.endswith(".parquet"):
                        continue
                    if rel_dir == ".":
                        name = f"{prefix}-{f}"
                        pvals: dict[str, str] = {}
                    else:
                        # col=value/... hive segments, URL-decoded
                        from urllib.parse import unquote

                        segs = [s.split("=", 1) for s in rel_dir.split(os.sep)]
                        pvals = {k: unquote(v) for k, v in segs}
                        name = os.path.join(rel_dir, f"{prefix}-{f}")
                        os.makedirs(
                            os.path.join(path, rel_dir), exist_ok=True
                        )
                    dst = os.path.join(path, name)
                    shutil.move(os.path.join(dirpath, f), dst)
                    rows, stats = _file_stats(dst)
                    for k, v in pvals.items():
                        nv = _norm(_coerce(k, v))
                        if nv is not None:
                            stats[k] = [nv, nv, 0]
                    action = {"path": name, "rows": rows, "stats": stats}
                    if pvals:
                        action["partition"] = pvals
                    actions.append(action)
            return actions
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def _commit(self, path: str, add: list[dict], remove: list[str],
                expected_version: int | None = None,
                schema_json: str | None = None,
                txn: tuple[str, int] | None = None) -> int:
        """Atomically publish a commit record as the next version.
        os.link is the put-if-absent: EEXIST → a concurrent writer won
        the version → TxConflict (caller re-reads and retries)."""
        os.makedirs(_log_dir(path), exist_ok=True)
        rec = {"add": add, "remove": remove}
        if schema_json is not None:
            rec["schema"] = schema_json
        if txn is not None:
            rec["txn"] = {"app": txn[0], "batch": int(txn[1])}
        for _ in range(self.max_commit_retries):
            vs = _versions(path)
            version = (vs[-1] + 1) if vs else 0
            if expected_version is not None and version != expected_version:
                raise TxConflict(
                    f"{path}: expected to commit v{expected_version}, log is at v{version - 1}"
                )
            rec["version"] = version
            fd, tmp = tempfile.mkstemp(dir=_log_dir(path), suffix=".tmp")
            with os.fdopen(fd, "w") as f:
                json.dump(rec, f)
            try:
                os.link(tmp, _record_path(path, version))  # atomic put-if-absent
                self._maybe_checkpoint(path, version)
                return version
            except FileExistsError:
                if expected_version is not None:
                    raise TxConflict(
                        f"{path}: v{version} committed concurrently"
                    ) from None
                continue  # blind append: retry on the next version
            finally:
                os.unlink(tmp)
        raise TxConflict(f"{path}: lost the commit race {self.max_commit_retries} times")

    def _maybe_checkpoint(self, path: str, version: int) -> None:
        """Best-effort log checkpoint every `checkpoint_every` commits:
        a consolidated snapshot of the replayed state, atomically
        os.replace'd in. Readers merely SEED from it (commits stay the
        source of truth), so a failed/torn/raced checkpoint write can
        never corrupt the table — hence best-effort, never raising into
        the committer."""
        if not self.checkpoint_every or version == 0 or version % self.checkpoint_every:
            return
        tmp = None
        try:
            live, schema = _replay_state(path, version)
            txn = _replay_txn(path, version)
            fd, tmp = tempfile.mkstemp(dir=_log_dir(path), suffix=".tmp")
            with os.fdopen(fd, "w") as f:
                json.dump(
                    {"version": version, "live": live, "schema": schema, "txn": txn},
                    f,
                )
            os.replace(tmp, _checkpoint_path(path, version))
            tmp = None
        except OSError:
            pass
        finally:
            if tmp is not None:
                try:
                    os.unlink(tmp)
                except OSError:
                    pass

    @staticmethod
    def _evolved_schema(logged_json: str | None, df: DataFrame) -> str:
        """ADDITIVE schema evolution for appends (the Delta mergeSchema
        contract): new columns join the table schema; appends may omit
        existing columns (read as null); a TYPE change for an existing
        column is rejected — silent coercion corrupts old files."""
        from pyspark.sql.types import StructType

        if logged_json is None:
            return df.schema.json()
        old = StructType.fromJson(json.loads(logged_json))
        by_name = {f.name: f for f in old.fields}
        merged = list(old.fields)
        for f in df.schema.fields:
            prev = by_name.get(f.name)
            if prev is None:
                merged.append(f)
            elif prev.dataType != f.dataType:
                raise ValueError(
                    f"schema evolution rejected: column {f.name!r} is "
                    f"{prev.dataType.simpleString()}, append has "
                    f"{f.dataType.simpleString()}"
                )
        return StructType(merged).json()

    # -- TableFormat seam --------------------------------------------------
    def append(
        self,
        df: DataFrame,
        path: str,
        *,
        partition_cols: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        expected_version: int | None = None,
    ) -> None:
        """Append a commit. ``txn=(app_id, batch_id)`` stamps the commit
        with a transaction marker (the Delta txn action) so idempotent
        writers — e.g. a streaming foreachBatch replaying after a crash
        — can detect an already-committed batch via ``txn_batches`` and
        skip it. Pair with ``expected_version`` (CAS) to close the race
        between the marker check and the commit."""
        # partition pruning comes from the log's per-file metadata in a
        # full implementation; this one keeps the file set flat
        _, logged = (
            _replay_state(path) if os.path.isdir(_log_dir(path)) else ([], None)
        )
        # validate evolution BEFORE staging so a rejected append leaves
        # zero debris (staged-but-uncommitted files are invisible, but
        # they'd sit until vacuum)
        schema_json = self._evolved_schema(logged, df)
        self._commit(
            path,
            add=self._stage(df, path, partition_cols),
            remove=[],
            schema_json=schema_json,
            txn=txn,
            expected_version=expected_version,
        )

    def txn_batches(self, path: str, app_id: str) -> set[int]:
        """EVERY batch id committed by ``app_id`` — full log scan,
        O(commits); audit/inspection use. The streaming sink's hot path
        is ``last_txn_batch`` (checkpoint-seeded)."""
        out: set[int] = set()
        for v in _versions(path):
            with open(_record_path(path, v)) as f:
                t = json.load(f).get("txn")
            if t and t.get("app") == app_id:
                out.add(int(t["batch"]))
        return out

    def last_txn_batch(self, path: str, app_id: str) -> int | None:
        """Highest batch id committed by ``app_id``, seeded from the log
        checkpoints (cost O(checkpoint_every), not O(commits)). Spark
        streaming batch ids are monotonic per query lifetime, so
        ``batch_id <= last`` ⟺ already committed — the Delta
        setTransaction idempotency contract."""
        if not os.path.isdir(_log_dir(path)):
            return None
        return _replay_txn(path).get(str(app_id))

    def overwrite(
        self,
        df: DataFrame,
        path: str,
        *,
        txn: tuple[str, int] | None = None,
        expected_version: int | None = None,
    ) -> None:
        """Snapshot-isolated replace: stage new files, then ONE commit
        removing every previously-live file. No reader can observe the
        gap, and read(path) → transform → overwrite(path) needs no
        localCheckpoint — the input files are immutable. The table
        schema is replaced outright (a snapshot swap owns its schema).
        ``txn`` stamps the commit for idempotent writers (the streaming
        read-refresh-overwrite loop: a replayed batch is detected via
        ``last_txn_batch`` and the CAS built into this method)."""
        live_before = _replay(path) if os.path.isdir(_log_dir(path)) else []
        if expected_version is None:
            vs = _versions(path)
            expected_version = (vs[-1] + 1) if vs else 0
        add = self._stage(df, path)
        self._commit(
            path,
            add=add,
            remove=live_before,
            expected_version=expected_version,
            schema_json=df.schema.json(),
            txn=txn,
        )

    def read(
        self,
        spark: SparkSession,
        path: str,
        schema: str | None = None,
        *,
        version: int | None = None,
        where: Sequence[tuple] | None = None,
    ) -> DataFrame:
        """Snapshot read. ``where`` is an optional conjunction of
        ``(col, op, value)`` predicates (op ∈ ==, !=, <, <=, >, >=, in):
        files whose logged min/max range cannot satisfy it are SKIPPED
        (never opened — Delta-style data skipping), and the predicate is
        re-applied as a plan filter so semantics never depend on stats."""
        have_log = os.path.isdir(_log_dir(path))
        actions, logged_schema = (
            _replay_state(path, version) if have_log else (None, None)
        )
        if schema is None and logged_schema is not None:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(logged_schema))
        files = None if actions is None else [a["path"] for a in actions]
        if files and where:
            if any(op not in _PRUNE_OPS for _c, op, _v in where):
                raise ValueError(f"unsupported predicate op; use one of {_PRUNE_OPS}")
            kept = [a["path"] for a in actions if _file_may_match(a, where)]
            if not kept:  # provably empty: no data file opened at all
                if schema is not None:
                    return local_frame(spark, [], schema)
                one = spark.read.option("basePath", path).parquet(
                    os.path.join(path, files[0])
                )
                return one.filter(F.lit(False))
            files = kept
        if files:
            paths = [os.path.join(path, f) for f in files]
            # basePath lets Spark recover hive partition columns
            # (col=value/ dirs) for an explicit file list; harmless on
            # flat layouts
            reader = spark.read.option("basePath", path)
            if schema:
                reader = reader.schema(schema)
            df = reader.parquet(*paths)
            return df.filter(_where_expr(where)) if where else df
        if files is not None and schema is None:
            # pre-schema-tracking log (no "schema" key in any record)
            # whose live set is empty: nothing to infer from
            raise ValueError(f"{path}: empty live set at version {version}; pass a schema")
        if schema is None:
            raise FileNotFoundError(path)
        return local_frame(spark, [], schema)

    def exists(self, spark: SparkSession, path: str) -> bool:
        return bool(_versions(path))

    # -- extras beyond the seam --------------------------------------------
    def optimize(
        self,
        spark: SparkSession,
        path: str,
        *,
        zorder_by: Sequence[str] | None = None,
        target_files: int | None = None,
    ) -> dict:
        """OPTIMIZE [ZORDER BY]: rewrite the live file set as
        ``target_files`` compacted files — optionally laid out along
        the Morton curve of ``zorder_by`` (small non-negative integer
        columns; bucket wider domains first — operators/zorder.py) so
        the logged per-file min/max stats stay tight in EVERY ordered
        dimension and ``read(where=...)`` skips files on any of them.
        One snapshot-swap commit: readers see the old or the new
        layout, never a mix; time travel to the pre-optimize version
        still works until vacuum. Data content is unchanged — only the
        file layout (and therefore the stats index) moves."""
        actions = _replay_actions(path)
        if not actions:
            return {"files_before": 0, "files_after": 0, "version": None}
        vs = _versions(path)
        expected = (vs[-1] + 1) if vs else 0
        # the schema-and-basePath-aware read path: recovers hive
        # partition columns into DATA columns and null-fills schema-
        # evolved files — a plain parquet read here would silently drop
        # both on rewrite
        df = self.read(spark, path)
        n_out = target_files or max(1, len(actions) // 4)
        if zorder_by:
            from ..operators.zorder import zorder_layout

            df = zorder_layout(df, list(zorder_by), n_files=n_out)
        else:
            df = df.coalesce(n_out)
        add = self._stage(df, path)
        version = self._commit(
            path,
            add=add,
            remove=[a["path"] for a in actions],
            expected_version=expected,
        )
        return {
            "files_before": len(actions),
            "files_after": len(add),
            "version": version,
        }

    def versions(self, path: str) -> list[int]:
        return _versions(path)

    def files(self, path: str, version: int | None = None) -> list[dict]:
        """Live add-actions (name, rows, per-column stats) at a version."""
        return _replay_actions(path, version)

    def merge_into(
        self,
        spark: SparkSession,
        path: str,
        updates: DataFrame,
        key_cols: str | Sequence[str],
        *,
        delete_col: str | None = None,
        max_collected_keys: int = 100_000,
    ) -> dict:
        """Native MERGE INTO with file-level pruning: rewrite ONLY the
        data files whose logged key ranges intersect the update set;
        untouched files survive the commit untouched (no data movement).
        This is the shape `operators/merge.py::merge_upsert` documents
        compiling to on a transactional format — scan-prune via file
        stats, rewrite the touched subset, one atomic commit (so readers
        see pre- or post-merge, never a torn state).

        Pruning tiers: per-key-column [min,max] interval overlap always;
        for single-column keys with ≤ ``max_collected_keys`` distinct
        update keys, exact membership (key ∈ [file.min, file.max]) —
        bounded driver-side collect, same trick Delta uses when it
        builds the matched-file list. Returns a summary dict
        ({version, files_rewritten, files_skipped, rows_scanned}).

        Concurrency: conflicts with any commit that lands between the
        snapshot read and our commit (expected_version CAS) → TxConflict;
        the caller re-runs against the fresh snapshot."""
        keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        actions, logged = (
            _replay_state(path) if os.path.isdir(_log_dir(path)) else ([], None)
        )
        vs = _versions(path)
        expected = (vs[-1] + 1) if vs else 0

        tgt_cols = [c for c in updates.columns if c != delete_col]
        if logged is not None:
            # updates must cover the FULL table schema: a rewritten file
            # carries only updates' columns, so a narrower update set
            # would silently null out real data on every bystander row
            # of a touched file; a wider one would fork the schema
            table_cols = [f["name"] for f in json.loads(logged)["fields"]]
            missing = [c for c in table_cols if c not in tgt_cols]
            extra = [c for c in tgt_cols if c not in table_cols]
            if missing or extra:
                raise ValueError(
                    f"merge_into schema drift: updates must carry exactly the "
                    f"table columns {table_cols}"
                    + (f"; missing {missing}" if missing else "")
                    + (f"; extra {extra}" if extra else "")
                )
            tgt_cols = table_cols  # preserve table column order

        # one bounded driver action: per-key-column bounds (+ exact key
        # set for single-column keys when small enough)
        aggs = [F.min(k).alias(f"__mn_{i}") for i, k in enumerate(keys)]
        aggs += [F.max(k).alias(f"__mx_{i}") for i, k in enumerate(keys)]
        aggs.append(F.count(F.lit(1)).alias("__n"))
        b = updates.agg(*aggs).collect()[0]
        key_values = None
        if len(keys) == 1 and (b["__n"] or 0) <= max_collected_keys:
            key_values = sorted(
                {
                    _norm(r[0])
                    for r in updates.select(keys[0]).distinct().collect()
                    if r[0] is not None and _norm(r[0]) is not None
                }
            )

        def touched(a: dict) -> bool:
            stats = a.get("stats") or {}
            try:
                for i, k in enumerate(keys):
                    st = stats.get(k)
                    if st is None:
                        return True  # no stats → must assume a match
                    mn, mx, _ = st
                    umn, umx = _norm(b[f"__mn_{i}"]), _norm(b[f"__mx_{i}"])
                    if umn is None or umx is None:
                        return True
                    if mx < umn or mn > umx:
                        return False
                    if key_values is not None and not any(
                        mn <= v <= mx for v in key_values
                    ):
                        return False
                return True
            except TypeError:
                return True  # incomparable stats/key types: assume a match

        hit = [a for a in actions if touched(a)]
        miss = [a for a in actions if not touched(a)]
        from ..operators.merge import merge_upsert

        if hit:
            # basePath + logged schema: partition columns recover from
            # directory names, schema-evolved files null-fill — a plain
            # parquet read would fail the select (or drop columns) on
            # partitioned/evolved tables
            reader = spark.read.option("basePath", path)
            if logged is not None:
                from pyspark.sql.types import StructType

                reader = reader.schema(StructType.fromJson(json.loads(logged)))
            target = reader.parquet(
                *[os.path.join(path, a["path"]) for a in hit]
            ).select(*tgt_cols)
            merged = merge_upsert(target, updates, keys, delete_col=delete_col)
        elif delete_col is None:
            merged = updates.select(*tgt_cols)
        else:
            merged = updates.filter(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).select(*tgt_cols)
        add = self._stage(merged, path)
        version = self._commit(
            path,
            add=add,
            remove=[a["path"] for a in hit],
            expected_version=expected,
        )
        return {
            "version": version,
            "files_rewritten": len(hit),
            "files_skipped": len(miss),
            "rows_scanned": sum(a["rows"] or 0 for a in hit),
        }

    def vacuum(self, path: str, *, retain_versions: int = 0) -> list[str]:
        """Delete data files unreachable from the latest
        `retain_versions + 1` versions; returns the deleted names.
        Time travel earlier than the retained window stops working —
        same contract as Delta's VACUUM."""
        vs = _versions(path)
        if not vs:
            return []
        keep_from = vs[max(0, len(vs) - 1 - retain_versions)]
        reachable: set[str] = set()
        for v in vs:
            if v >= keep_from:
                reachable |= set(_replay(path, v))
        deleted = []
        for dirpath, _dirs, fnames in os.walk(path):
            if os.path.basename(dirpath) == _LOG_DIR:
                continue
            for f in sorted(fnames):
                rel = os.path.relpath(os.path.join(dirpath, f), path)
                base = os.path.basename(f)
                if (
                    base.startswith("data-")
                    and base.endswith(".parquet")
                    and rel not in reachable
                ):
                    os.unlink(os.path.join(dirpath, f))
                    deleted.append(rel)
        return sorted(deleted)
