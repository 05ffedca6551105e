"""Execution engine: CubeQuery -> DataFrame plan -> Slice.

Spark-first replacement for the reference's CuttingBoard
(/root/reference/bacon/cutting.py): where the reference streams Python
records through exec-compiled closures into a hash-agg dict
(/root/reference/bacon/cutting.py:87-116,696-749), we declare
``df.filter(...).groupBy(axes).agg(values).orderBy(...)`` and let Catalyst
and Tungsten own predicate pushdown, column pruning, partial aggregation,
whole-stage codegen, shuffle and spill.

The reference's cross-query slice cache with cost-based reuse
(/root/reference/bacon/cutting.py:137-202,235-522) survives as an
engine-level LRU of persisted result DataFrames with three strategies:

* exact reuse (same axes/filters, value superset) — pointer share, cost 1
  (ReuseCachedSlice, /root/reference/bacon/cutting.py:235-271);
* drill pushdown (new eq-filter on an axis of a cached slice) — filter the
  cached *result*, cost 2 (DrillOnFirstAxis, /root/reference/bacon/
  cutting.py:274-333 — Catalyst prunes the tiny cached plan);
* roll-up (coarser axes over same filters, re-aggregatable measures) —
  re-aggregate the cached result, cost 10 (ManipulateSlice,
  /root/reference/bacon/cutting.py:336-522) — sound exactly because every
  accumulator keeps the partial/final contract.

Layered OVER the persisted-DataFrame cache is the WARM navigation path
(round 7): collected slice rows are memoized driver-side, and exact
repeats, scalar/membership-op drills on cached axes (PY_FILTER_OPS
twins, reference null semantics), and rollups through the accumulators'
``py_merge`` twins are answered with ZERO Spark jobs — the reference's
in-memory slice walk at its native cost, which is what closes the
small-table interactive gap against a preloaded Python loop
(BENCH_reference_r07.json nav section; fuzz-verified against cold
recomputes in tests/test_engine.py).

Scale note (100 TB): cube *results* are small (bounded by group count) even
when inputs are huge, so persisting results is cheap; the wins come from
never re-scanning the fact table for drill/roll-up navigation sequences,
which is precisely the reference's design intent.

The collect path: a query no driver-side form can answer gets an
*unordered* result plan (aggregate, cache reuse or lattice).
``Slice.collect`` runs that plan as one result job and orders the rows on
the driver with ``CuttingBoard._py_order``, the twin of ``_order`` that
the warm memo and the cold fold use too, with Spark's null and NaN
placement (``_sort_key``). A fresh aggregate that is collected becomes its
slice-cache entry as the collected rows (``_CachedSlice``): nothing is
persisted for a second job to materialize, an entry made of rows cannot
change when the source path does, and later drills and roll-ups read
those rows on the driver like the warm memo. Only ``Slice.df`` /
``to_df()`` build the ordered plan; a fresh aggregate first used that way
is persisted (or checkpointed) as before. ``refresh`` starts a new
generation: a slice planned before it caches nothing.
"""

from __future__ import annotations

import functools
import threading
from collections import OrderedDict
from operator import itemgetter

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType
from pyspark.storagelevel import StorageLevel

from .cubedef import CubeDef
from .cubequery import CubeQuery
from .errors import QueryError
from .operators import decisions
from .filters import (
    FILTER_OPS,
    PY_FILTER_OPS,
    build_predicate,
    combine_filters,
    compile_py_filter,
    fuse_py_filters,
)

__all__ = ["CuttingBoard", "Slice", "keyset_page"]


def _sort_key(v):
    """A Python sort key that orders values as Spark does: null below
    every value, NaN above every number and equal to itself, arrays and
    structs element by element under the same rules."""
    if v is None:
        return (0, 0)
    if isinstance(v, (list, tuple)):
        return (1, tuple(map(_sort_key, v)))
    if v != v:  # NaN
        return (2, 0)
    return (1, v)


#: the one NaN object driver-side group keys use: Spark groups every NaN
#: together, while a dict matches two NaN keys only when they are one object
_NAN = float("nan")


def _group_value(v):
    """A hashable group key that groups as Spark does: every NaN one key,
    arrays and structs by value."""
    if isinstance(v, (list, tuple)):
        return tuple(map(_group_value, v))
    return _NAN if isinstance(v, float) and v != v else v


def _as_rows(schema, rows: list) -> list:
    """*rows* (tuples in schema order, or Rows) as Rows of the schema."""
    if rows and not isinstance(rows[0], Row):
        mk = Row(*schema.names)
        rows = [mk(*t) for t in rows]
    return rows


def _too_many_rows(max_rows: int) -> QueryError:
    return QueryError(
        f"slice has more than {max_rows} rows; refusing to "
        "collect for rendering — add filters, drop an axis, "
        "or page through rows()/keyset_page instead"
    )


def _collect_at_most(df: DataFrame, max_rows: int | None) -> list:
    """``df.collect()``, or with *max_rows* set, a take of at most
    ``max_rows + 1`` rows that raises QueryError when there are more than
    *max_rows*. Over a small aggregate, which AQE coalesces into one
    partition, the take is a single job."""
    if max_rows is None:
        return df.collect()
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise _too_many_rows(max_rows)
    return rows


class _CachedSlice:
    """A slice-cache entry: a query's unordered result, pinned in Spark
    storage (a persisted or checkpointed frame), or collected to the
    driver as *rows* of *schema*, with a DataFrame over them built only
    when a Spark plan first needs one. Collected rows never read the
    source again."""

    def __init__(self, df, rows: list | None = None, schema=None):
        self._df = df  # DataFrame, or a 0-arg thunk building one over rows
        self.rows = rows  # None for a pinned frame
        self.schema = schema

    @property
    def df(self) -> DataFrame:
        if callable(self._df):
            self._df = self._df()
        return self._df

    def collect(self) -> list:
        return list(self.rows) if self.rows is not None else self.df.collect()

    def unpersist(self) -> None:
        if not callable(self._df):
            self._df.unpersist()


def keyset_page(df: DataFrame, keys: list[str], after: tuple | None, limit: int) -> DataFrame:
    """Keyset (seek) pagination: the next *limit* rows strictly after the
    composite key *after* in lexicographic (ascending) key order.

    The scale-correct replacement for OFFSET paging (reference pagination,
    /root/reference/bacon/observers/tables.py:16-130, /root/reference/bacon/
    sql.py:100-108): OFFSET n scans and discards n rows on every page — cost
    grows linearly as a user pages through 100 TB — while the seek predicate
    ``(k1, k2) > (a1, a2)`` is sargable, so Catalyst pushes it to the scan
    (parquet min/max skipping; partition pruning when data is laid out by
    the key) and each page costs the same. Keys must uniquely identify rows
    (add a tiebreaker column if not) and be non-null."""
    if after is not None:
        if len(after) != len(keys):
            raise QueryError(f"after-key arity {len(after)} != key arity {len(keys)}")
        # (k1 > a1) OR (k1 = a1 AND k2 > a2) OR ... — each disjunct sargable
        pred = None
        for i in range(len(keys)):
            term = F.col(keys[i]) > F.lit(after[i])
            for j in range(i):
                term = (F.col(keys[j]) == F.lit(after[j])) & term
            pred = term if pred is None else pred | term
        df = df.filter(pred)
    return df.orderBy(*[F.col(k).asc() for k in keys]).limit(limit)


def _freeze_value(v):
    if isinstance(v, (set, frozenset)):
        return frozenset(v)
    if isinstance(v, list):
        return tuple(v)
    return v


def _cache_key(query: CubeQuery):
    return (
        query.axes,
        frozenset((n, op, _freeze_value(v)) for n, op, v in query.filters),
    )


def _memo_key(query: CubeQuery):
    """Full output signature for the driver-side rows memo: unlike
    ``_cache_key`` (plan reuse: axes+filters, value superset allowed) the
    memo is keyed on the exact projected/ordered output."""
    return (
        query.axes,
        frozenset((n, op, _freeze_value(v)) for n, op, v in query.filters),
        query.values,
        query.order,
    )


class CuttingBoard:
    """Answers CubeQuery objects over a DataFrame, with result caching.

    Reference CuttingBoard (/root/reference/bacon/cutting.py:37-179). The
    dataset here is any DataFrame — a parquet scan, a star-schema join view
    (sources/star.py), or a streaming source.
    """

    CACHE_SIZE = 20  # reference cap (/root/reference/bacon/cutting.py:183)

    def __init__(
        self,
        cubedef: CubeDef,
        df: DataFrame,
        cache_results: bool = True,
        snapshot_cache: bool = False,
        eager_snapshot_rows: int | None = None,
    ):
        self.cubedef = cubedef
        self.df = df
        self.cache_results = cache_results
        # snapshot_cache pins cached slices via localCheckpoint instead of
        # persist: a persisted plan that reads a path is INVALIDATED (and
        # silently recomputed over the new file listing) whenever anything
        # writes to that path (Spark refreshByPath) — fatal for incremental
        # maintenance, where the delta lands in the very path the base
        # reads. A localCheckpoint truncates the plan to the computed rows,
        # immune to source churn. Default off: for plain batch boards,
        # recompute-on-invalidation is the CORRECT freshness behavior.
        self.snapshot_cache = snapshot_cache
        # key -> (query, _CachedSlice); LRU promote-on-hit like the reference
        # deque rotation (/root/reference/bacon/cutting.py:181-202)
        self._cache: OrderedDict = OrderedDict()
        # bumped by every refresh: a slice records it when planned, and
        # rows or frames of an older generation are never cached, since
        # the refresh that followed them did not merge its delta in
        self._generation = 0
        # the WARM navigation path: _memo_key -> (query, schema, rows) of
        # COLLECTED slice results. Cube results are bounded by group
        # count, so materialized rows are cheap to hold, and a repeat /
        # drill / roll-up served from them costs no Spark job at all —
        # the reference's in-memory slice reuse
        # (/root/reference/bacon/cutting.py:235-522) at driver scope,
        # layered OVER the persisted-DataFrame cache (which still serves
        # anything the driver-side fold can't express exactly).
        self._rows_memo: OrderedDict = OrderedDict()
        self.local_hits = 0  # diagnostics: queries answered without a job
        # decisions-log scope for THIS board (operators/decisions.py):
        # concurrent boards interleave in the process-global log, so the
        # board's plan records carry its context and harnesses filter
        # with decisions.last(op, context=board.decisions_context)
        self.decisions_context = f"{cubedef.title or 'board'}@{id(self):x}"
        self._lattices: list = []  # registered CubeLattice materializations
        self._lock = threading.RLock()
        # COLD small-table path: when eager_snapshot_rows is set and the
        # table fits under it, label values and measure inputs are
        # extracted Spark-side ONCE (construction-time, like the
        # reference's preloaded dataset, /root/reference/bacon/
        # cutting.py:122-135) and FIRST-hit aggregations fold them
        # driver-side via the accumulators' ``py_agg`` twins — closing
        # Spark's ~0.3 s job-launch floor on point queries over small
        # dimension tables. Bounded by construction: a table over the cap
        # disables the path (one capped probe, never an unbounded
        # collect), so at 100 TB only genuinely small cubes qualify.
        self._snap_rows: list | None = None
        self._snap_cap = eager_snapshot_rows
        if eager_snapshot_rows:
            self._build_snapshot(eager_snapshot_rows)

    def register_lattice(self, lattice) -> None:
        """Register a precomputed CubeLattice (operators/lattice.py) as a
        materialized view: any unfiltered query whose axes/values it covers
        is answered by a grouping_id lookup instead of a base-table scan —
        the engine-planner form of the reference's roll-up reuse
        (/root/reference/bacon/cutting.py:336-522), but exact for every
        accumulator because the lattice stores finished values per grain."""
        self._lattices.append(lattice)

    #: per-entry bound on memoized rows, and the bound on the rows of all
    #: collected slice-cache entries together (a slice bigger than this is
    #: not a navigation result; holding it driver-side would be the
    #: render-path collect problem this layer exists to avoid)
    MEMO_MAX_ROWS = 100_000

    # --- public API -------------------------------------------------------
    def slice(self, query: CubeQuery) -> Slice:
        """Answer *query* as a Slice.

        A cached board first tries the driver-side forms (warm memo, cold
        fold over the eager snapshot), whose slices hold their rows
        already. Otherwise the slice carries the unordered Spark plan
        (lattice, cache reuse or a fresh aggregate): ``collect`` runs it
        as one result job and orders the rows with ``_py_order``, while
        ``df`` / ``to_df()`` return the plan ordered by ``_order``. A
        fresh aggregate becomes the cache entry of its (axes, filters)
        key on first use: the collected rows, which later queries drill
        and roll up on the driver like the warm memo, or the persisted
        (``snapshot_cache``: checkpointed) plan when ``df`` comes first."""
        gen = self._generation  # read before any state the answer uses
        if self.cache_results:
            local = self._local_slice(query, gen)
            if local is not None:
                return local  # _local_slice/_local_cold recorded the route
        # the cold-fold vs Spark-plan choice (VERDICT r11 next #6): no
        # driver-side form could answer exactly, so this query takes a
        # Spark plan (which may itself serve from a lattice — the
        # "lattice" decision records that separately)
        decisions.record(
            "cold_fold",
            "spark",
            context=self.decisions_context,
            axes=query.axes,
            values=query.values,
        )
        plan, fresh = self._plan(query)
        return Slice(
            self.cubedef, query, None, board=self, plan=plan, fresh=fresh, gen=gen
        )

    def rows(self, query: CubeQuery, limit: int | None = None, offset: int = 0) -> DataFrame:
        """Raw-rows sink: unaggregated filtered records with paging
        (reference RowsProxy/TableDetails.rows,
        /root/reference/bacon/sql.py:340-370)."""
        df = self.df
        pred = self._predicate(query)
        if pred is not None:
            df = df.filter(pred)
        if offset:
            df = df.offset(offset)
        if limit is not None:
            df = df.limit(limit)
        return df

    def rows_keyset(
        self, query: CubeQuery, keys: list[str], after: tuple | None, limit: int
    ) -> DataFrame:
        """Keyset-paged raw rows: filtered records after the composite key
        *after*, in key order (see ``keyset_page``). The scale path the
        reference's offset paging cannot take."""
        df = self.df
        pred = self._predicate(query)
        if pred is not None:
            df = df.filter(pred)
        return keyset_page(df, keys, after, limit)

    def clear_cache(self) -> None:
        with self._lock:
            for _, cached_df in self._cache.values():
                cached_df.unpersist()
            self._cache.clear()
            self._rows_memo.clear()

    # --- driver-side warm path ---------------------------------------------
    def _memoize_rows(self, query: CubeQuery, schema, rows, gen: int) -> None:
        """Keep a materialized result, answered at refresh generation
        *gen*, for warm navigation; a refresh since then made it stale.
        Bounded per entry (MEMO_MAX_ROWS) and in entry count (CACHE_SIZE,
        LRU)."""
        if len(rows) > self.MEMO_MAX_ROWS:
            return
        with self._lock:
            if gen != self._generation:
                return
            self._rows_memo[_memo_key(query)] = (query, schema, list(rows))
            self._rows_memo.move_to_end(_memo_key(query))
            while len(self._rows_memo) > self.CACHE_SIZE:
                self._rows_memo.popitem(last=False)

    def _build_snapshot(self, cap: int) -> None:
        """Extract every label value and (py-foldable) measure input from
        the base frame into driver memory, capped at *cap* rows.

        One Spark job, at board construction — the analogue of the
        reference's ``_get_dataset`` preload (/root/reference/bacon/
        cutting.py:122-135), billed as load time, not query time. The
        extraction happens SPARK-side (label Columns, measure input
        expressions), so the driver fold needs no Python twins of label
        logic — only of the accumulators' folds (``py_agg``). A table
        bigger than the cap disables the path (probed via limit(cap+1))."""
        if self.df.isStreaming:
            return
        cols: list[Column] = []
        names: list[str] = []
        for lab in self.cubedef.labels:
            cols.append(lab.column().alias(lab.name))
            names.append(lab.name)
        minputs: dict[str, list[str]] = {}
        probes: list[Column] = []
        for m in self.cubedef.measures:
            if m.acc.py_agg is None:
                continue
            keys = []
            for i, c in enumerate(m.acc.py_input_cols(m.column())):
                n = f"__m_{m.name}_{i}"
                cols.append(c.alias(n))
                names.append(n)
                keys.append(n)
            minputs[m.name] = keys
            probes.append(m.agg_column().alias(m.name))
        snap_df = self.df.select(*cols)
        rows = snap_df.limit(cap + 1).collect()
        if len(rows) > cap:
            return  # too big for a driver-side fold: stay on the Spark path
        rows = [tuple(r) for r in rows]
        # float labels are the cold fold's group keys: every NaN becomes
        # one object, so a dict groups them together as Spark does
        floats = [
            i
            for i, f in enumerate(snap_df.schema.fields[: len(self.cubedef.labels)])
            if isinstance(f.dataType, (DoubleType, FloatType))
        ]
        for n, r in enumerate(rows if floats else ()):
            if any(r[i] != r[i] for i in floats):
                rows[n] = tuple(
                    _NAN if i in floats and v != v else v for i, v in enumerate(r)
                )
        # finished-value types, resolved ONCE by catalyst analysis (no job)
        # so cold queries never pay per-hit schema analysis
        ftypes = {}
        if probes:
            probe_schema = self.df.groupBy(F.lit(1)).agg(*probes).schema
            ftypes = {f.name: f for f in probe_schema.fields[1:]}
        with self._lock:
            self._snap_idx = {n: i for i, n in enumerate(names)}
            self._snap_fields = {f.name: f for f in snap_df.schema.fields}
            self._snap_minputs = minputs
            self._snap_ftypes = ftypes
            self._snap_rows = rows

    def _local_cold(self, query: CubeQuery, gen: int):
        """FIRST-hit driver-side aggregation over the eager snapshot: filter
        with the PY_FILTER_OPS twins, group by axis values, fold each
        measure's extracted inputs with its accumulator's ``py_agg``.
        Returns None whenever any piece lacks an exact Python twin — the
        query then takes the normal Spark plan."""
        snap = self._snap_rows
        if snap is None:
            return None
        idx = self._snap_idx
        try:
            fspec = fuse_py_filters(
                [
                    (idx[n], compile_py_filter(op, v, self._snap_fields[n].dataType))
                    for n, op, v in query.filters
                ]
            )
            axi = [idx[a] for a in query.axes]
        except KeyError:
            return None
        from pyspark.sql.types import StructField, StructType

        folds = []  # (value name, fold fn, snapshot col indices)
        fields = []
        for v in query.values:
            meas = self.cubedef.get_value(v)
            fn = meas.acc.py_agg
            if fn is None:
                return None
            keys = self._snap_minputs.get(v)
            if keys is None:
                # a plain label used as a value (Group accumulator): its
                # input IS the extracted label column
                if v in self._snap_fields and v not in self._snap_minputs:
                    keys = [v]
                else:
                    return None
                f = self._snap_fields[v]
                fields.append(StructField(v, f.dataType, True))
            else:
                fields.append(self._snap_ftypes[v])
            folds.append((v, fn, [idx[k] for k in keys]))
        try:
            rows = snap
            for i, f in fspec:
                rows = [r for r in rows if f(r[i])]
            if query.axes:
                groups: dict = {}
                if len(axi) == 1:
                    # single-axis fast path: one subscript per row instead
                    # of a generator-built tuple — high-cardinality axes
                    # (a 100k-customer top-k) are singleton-group-heavy
                    # and pay the key-build cost per ROW
                    i0 = axi[0]
                    for r in rows:
                        k = (r[i0],)
                        g = groups.get(k)
                        if g is None:
                            groups[k] = g = []
                        g.append(r)
                else:
                    for r in rows:
                        k = tuple(r[i] for i in axi)
                        g = groups.get(k)
                        if g is None:
                            groups[k] = g = []
                        g.append(r)
                items = list(groups.items())
            else:
                # dim=0: one grand-total row even over an empty input,
                # matching df.agg() (/root/reference/bacon/cutting.py:111-112)
                items = [((), rows)]
            out = []
            for key, grp in items:
                d = dict(zip(query.axes, key))
                for v, fn, ii in folds:
                    if len(ii) == 1:
                        i0 = ii[0]
                        d[v] = fn([g[i0] for g in grp])
                    else:
                        d[v] = fn([tuple(g[i] for i in ii) for g in grp])
                out.append(d)
        except TypeError:
            return None  # unhashable label value etc: take the Spark plan
        self._py_order(query, out)
        out_schema = StructType(
            [self._snap_fields[a] for a in query.axes] + fields
        )
        made = self._local_made(
            query, out_schema, [tuple(d[c] for c in out_schema.names) for d in out]
        )
        self._memoize_rows(query, out_schema, made._rows, gen)
        self.local_hits += 1
        decisions.record(
            "cold_fold",
            "local_cold",
            context=self.decisions_context,
            snapshot_rows=len(snap),
            rows=len(out),
        )
        return made

    def _local_slice(self, query: CubeQuery, gen: int):
        """Serve *query* entirely driver-side from collected slice rows —
        the warm memo and the collected slice-cache entries — with no
        Spark job. Exact repeats return their rows; drills (eq filters on
        cached extra axes) filter rows in Python; axis drops re-aggregate
        via the accumulators' ``py_merge`` twins. Returns None when no
        collected parent can answer exactly; the planner then falls
        through to the slice cache's Spark plans.

        This is the reference's slice-reuse machinery
        (/root/reference/bacon/cutting.py:235-522) applied at its native
        cost: O(cached result size) Python, zero scheduling. At 100 TB
        the cached results are still group-count-bounded, so the warm
        path's cost is unchanged by data scale."""
        if any(op not in FILTER_OPS for _, op, _v in query.filters):
            return None
        mk = _memo_key(query)
        with self._lock:
            # (query, schema, rows, slice-cache key or None) per parent
            parents = [(*e, None) for e in self._rows_memo.values()] + [
                (cq, e.schema, e.rows, k)
                for k, (cq, e) in self._cache.items()
                if e.rows is not None
            ]
            exact = self._rows_memo.get(mk)
            if exact is None:
                exact = next((p for p in parents if _memo_key(p[0]) == mk), None)
                if exact is not None:
                    self._cache.move_to_end(exact[3])  # promote on hit
        if exact is not None:
            schema, rows = exact[1], exact[2]
            self.local_hits += 1
            decisions.record(
                "cold_fold",
                "local_warm",
                context=self.decisions_context,
                kind="exact_repeat",
                rows=len(rows),
            )
            return self._local_made(query, schema, rows)
        wanted_vals = set(query.values)
        fq = frozenset((n, op, _freeze_value(v)) for n, op, v in query.filters)
        for pq, schema, rows, ckey in parents:
            if not wanted_vals <= set(pq.values):
                continue
            if not set(query.axes) <= set(pq.axes):
                continue
            fc = frozenset((n, op, _freeze_value(v)) for n, op, v in pq.filters)
            if not fc <= fq:
                continue
            # every ADDED filter must be a scalar/membership op on a
            # cached axis — filtering finished rows by a GROUP KEY value
            # is exactly filtering the input by that label (the same
            # soundness argument as the lattice's filter drills), for
    \
            # ANY accumulator when the axis is kept. Ops without a
            # Python twin (regex, set algebra) fall through to the
            # Spark planner. Kept as a LIST: two filters on ONE axis
            # must BOTH apply (a dict silently dropped one — caught by
            # the randomized navigation fuzz test)
            drill: list = []
            ok = True
            memo_fields = {f.name: f for f in schema.fields}
            for n, op, v in query.filters:
                if (n, op, _freeze_value(v)) in fc:
                    continue
                if op in PY_FILTER_OPS and n in pq.axes:
                    # same compile-time op-vs-type check as _local_cold:
                    # a set-algebra drill on a non-array axis falls
                    # through to Spark (which rejects it) instead of the
                    # twin iterating a scalar cell (ADVICE r10)
                    try:
                        drill.append(
                            (n, compile_py_filter(op, v, memo_fields[n].dataType))
                        )
                    except KeyError:
                        ok = False
                        break
                else:
                    ok = False
                    break
            if not ok:
                continue
            extra_axes = [a for a in pq.axes if a not in query.axes]
            # dropping axes changes grain -> driver-side re-aggregation
            # (eq-pinned dropped axes leave singleton groups; range/ne
            # filtered or unpinned ones merge several finished rows per
            # output group)
            needs_reagg = bool(extra_axes)
            if needs_reagg and not all(
                self.cubedef.get_value(v).acc.reaggregatable
                and self.cubedef.get_value(v).acc.py_merge is not None
                for v in query.values
            ):
                continue
            if drill:
                rows = [
                    r for r in rows if all(f(r[a]) for a, f in drill)
                ]
            out = self._py_reaggregate(query, rows) if needs_reagg else [
                {c: r[c] for c in (*query.axes, *query.values)} for r in rows
            ]
            self._py_order(query, out)
            if ckey is not None:
                with self._lock:
                    if ckey in self._cache:
                        self._cache.move_to_end(ckey)  # promote on hit
            self.local_hits += 1
            decisions.record(
                "cold_fold",
                "local_warm",
                context=self.decisions_context,
                kind="derived",
                drilled=bool(drill),
                reaggregated=needs_reagg,
                rows=len(out),
            )
            from pyspark.sql.types import StructType

            fields = {f.name: f for f in schema.fields}
            out_schema = StructType(
                [fields[c] for c in (*query.axes, *query.values)]
            )
            made = self._local_made(
                query, out_schema, [tuple(d[c] for c in out_schema.names) for d in out]
            )
            # memoize the derived result too: further drills chain off it
            self._memoize_rows(query, out_schema, made._rows, gen)
            return made
        return self._local_cold(query, gen)

    def _local_made(self, query: CubeQuery, schema, rows) -> Slice:
        """A Slice over already-materialized rows: collect()/renderers
        use them directly (zero Spark work), while to_df() lazily wraps
        them in a DataFrame only if a caller actually wants the plan —
        keeping the driver contract without paying for it per hit."""
        rows = _as_rows(schema, rows)
        spark = self.df.sparkSession
        return Slice(
            self.cubedef,
            query,
            lambda: spark.createDataFrame(rows, schema),
            board=None,
            rows=rows,
        )

    def _py_reaggregate(self, query: CubeQuery, rows) -> list[dict]:
        """Driver-side twin of ``_reaggregate``: group collected finished
        rows by query.axes and fold each measure with its accumulator's
        ``py_merge``."""
        groups: OrderedDict = OrderedDict()
        for r in rows:
            key = tuple(_group_value(r[a]) for a in query.axes)
            groups.setdefault(key, []).append(r)
        out = []
        for grp in groups.values():
            d = {a: grp[0][a] for a in query.axes}
            for v in query.values:
                d[v] = self.cubedef.get_value(v).acc.py_merge([g[v] for g in grp])
            out.append(d)
        return out

    def _py_order(self, query: CubeQuery, out: list) -> None:
        """Driver-side twin of ``_order`` over dicts or collected Rows:
        stable sorts applied in reversed priority (axes last-to-first,
        then the measure order). Axes sort nulls first, or last when
        reversed; the measure sorts None as 0; NaN is the largest value
        in both (``_sort_key``)."""
        if not out:
            return

        def column(name):
            if isinstance(out[0], dict):
                return itemgetter(name)
            return itemgetter(out[0].__fields__.index(name))

        for a in reversed(query.axes):
            get = column(a)
            out.sort(
                key=lambda r: _sort_key(get(r)),
                reverse=self.cubedef.get_label(a).reverse,
            )
        if query.order:
            sign, value_name, _pv = query.order
            # mirror _order exactly: any OUTPUT column qualifies (axes too)
            if value_name in query.values or value_name in query.axes:
                get = column(value_name)

                def measure_key(r):
                    v = get(r)
                    return _sort_key(0 if v is None else v)

                out.sort(key=measure_key, reverse=sign < 0)

    def _cache_entry(self, query: CubeQuery, entry: _CachedSlice, gen: int):
        """Make *entry*, answered at refresh generation *gen*, the cache
        entry for *query*'s (axes, filters) key and return it. A refresh
        since *gen* did not merge its delta into the entry, so it is
        released instead and None returned. Releases the entry it
        replaces, the least recently used past CACHE_SIZE entries, and
        the least recently used collected entries past MEMO_MAX_ROWS
        rows in all."""
        key = _cache_key(query)
        with self._lock:
            if gen != self._generation:
                entry.unpersist()
                return None
            old = self._cache.pop(key, None)
            if old is not None:
                old[1].unpersist()
            self._cache[key] = (query, entry)
            while len(self._cache) > self.CACHE_SIZE:
                _, (_, evicted) = self._cache.popitem(last=False)
                evicted.unpersist()
            held = [(k, e) for k, (_, e) in self._cache.items() if e.rows is not None]
            total = sum(len(e.rows) for _, e in held)
            for k, e in held:
                if total <= self.MEMO_MAX_ROWS:
                    break
                del self._cache[k]
                e.unpersist()
                total -= len(e.rows)
        return entry

    def _pin(self, query: CubeQuery, plan: DataFrame, gen: int):
        """Cache a fresh aggregate plan in Spark storage (see
        ``_cache_entry``)."""
        if self.snapshot_cache:
            pinned = plan.localCheckpoint(eager=True)
        else:
            pinned = plan.persist(StorageLevel.MEMORY_AND_DISK)
        return self._cache_entry(query, _CachedSlice(pinned), gen)

    def _collected(self, schema, rows: list) -> _CachedSlice:
        """A cache entry of collected *rows*."""
        spark = self.df.sparkSession
        return _CachedSlice(lambda: spark.createDataFrame(rows, schema), rows, schema)

    def _cache_rows(self, query: CubeQuery, plan: DataFrame, rows: list, gen: int):
        """Cache a collected fresh aggregate as its rows (see
        ``_cache_entry``); a result past MEMO_MAX_ROWS stays off the
        driver and is pinned instead."""
        if len(rows) > self.MEMO_MAX_ROWS:
            return self._pin(query, plan, gen)
        return self._cache_entry(query, self._collected(plan.schema, list(rows)), gen)

    def _freeze_cache(self) -> None:
        """Make every cache entry a snapshot, as ``snapshot_cache`` makes
        new ones: checkpoint the persisted frames (collected rows are
        snapshots already)."""
        with self._lock:
            for key, (cq, entry) in list(self._cache.items()):
                if entry.rows is None:
                    frozen = _CachedSlice(entry.df.localCheckpoint(eager=True))
                    self._cache[key] = (cq, frozen)
                    entry.unpersist()

    def refresh(self, delta_df: DataFrame, grow_base: bool = True) -> None:
        """Incrementally fold *delta_df* (newly-arrived rows, same schema)
        into the board: the base frame grows, and every cached slice whose
        measures are mergeable is updated by aggregating ONLY the delta and
        merging partials into the cached result — never re-scanning the full
        base. Non-mergeable slices (Average/Group/ratio finished values
        cannot absorb partials) are evicted and recompute lazily.

        This is the incremental-view-maintenance form of the reference's
        dataset-refresh story — its lazy callable dataset re-pulled on cache
        invalidation (/root/reference/bacon/cutting.py:122-135,
        /root/reference/bacon/utils/cache.py:93-127) — made sound by the
        accumulator partial/final contract. At scale this is the
        foreachBatch pattern: each micro-batch is a delta_df.

        ``grow_base=False`` skips extending the base frame — pass it when
        the base already references the storage the deltas land in (the
        streaming-maintenance case, streaming/incremental.py), where a
        union per micro-batch would grow the plan tree without bound.

        The whole refresh holds the board lock and starts a new
        generation: a slice planned before it may still be collected, but
        its pre-refresh answer is not cached (``_cache_entry``)."""
        with self._lock:
            self._generation += 1
            if grow_base:
                self.df = self.df.unionByName(delta_df)
            # registered lattices are consulted FIRST by the planner, so
            # they must absorb the delta too (or stop being consulted):
            # mergeable lattices fold it in, non-mergeable ones are
            # unregistered and queries fall back to cache/compute over the
            # grown base
            for lat in list(self._lattices):
                if lat.reaggregatable:
                    lat.refresh(delta_df)
                else:
                    self._lattices.remove(lat)
                    lat.unpersist()
            # the eager snapshot describes the pre-refresh base: rebuild it
            # over the grown frame (one bounded job, same cap discipline)
            if self._snap_rows is not None:
                self._snap_rows = None
                self._build_snapshot(self._snap_cap)
            # memoized rows describe the pre-refresh data: all stale
            self._rows_memo.clear()
            for key, (cq, entry) in list(self._cache.items()):
                if not all(
                    self.cubedef.get_value(v).acc.reaggregatable for v in cq.values
                ):
                    del self._cache[key]
                    entry.unpersist()
                    continue
                delta_slice = self._aggregate_frame(cq, delta_df)
                if entry.rows is not None and all(
                    self.cubedef.get_value(v).acc.py_merge is not None
                    for v in cq.values
                ):
                    # collected rows merge on the driver: a DataFrame over
                    # driver rows would run its jobs through Python workers
                    merged = self._merge_collected(cq, entry, delta_slice.collect())
                else:
                    # snapshot the merge (localCheckpoint = compute now,
                    # forget lineage): its plan reads the old cached slice
                    # and the delta — a micro-batch only readable during
                    # its batch — and left lazy it could silently recompute
                    # over a base that already contains the delta (double
                    # count)
                    merged = _CachedSlice(
                        self._reaggregate(
                            entry.df.unionByName(delta_slice), cq
                        ).localCheckpoint(eager=True)
                    )
                self._cache[key] = (cq, merged)
                entry.unpersist()

    def _merge_collected(self, query: CubeQuery, entry, delta_rows) -> _CachedSlice:
        """Fold collected delta rows into a collected cache entry with the
        accumulators' ``py_merge`` twins, ordered for *query*."""
        out = self._py_reaggregate(query, entry.rows + delta_rows)
        self._py_order(query, out)
        names = entry.schema.names
        rows = _as_rows(entry.schema, [tuple(d[c] for c in names) for d in out])
        return self._collected(entry.schema, rows)

    # --- planning ----------------------------------------------------------
    def _plan(self, query: CubeQuery) -> tuple[DataFrame, bool]:
        """Choose the min-cost plan over cached slices, else compute.
        Returns the unordered result plan and whether it is a fresh
        aggregate, which the Slice makes the query's cache entry on first
        use (``_cache_rows`` / ``_pin``). A collected entry reaches this
        only for what its rows cannot answer on the driver (no Python
        twin of a filter op or of a measure's merge): the plan then runs
        over a DataFrame of the rows.

        Cost model mirrors the reference: 1 = pointer share, 2 = drill
        filter, 10 = re-aggregation
        (/root/reference/bacon/cutting.py:146-167,262,313-314,378-381).
        Registered lattices answer covered queries at cost ~1."""
        lat_df = self._lattice_plan(query)
        if lat_df is not None:
            return lat_df, False
        if not self.cache_results:
            return self._aggregate(query), False

        plans = []
        with self._lock:
            entries = list(self._cache.items())
        for key, (cq, entry) in entries:
            p = self._reuse_plan(query, cq)
            if p is not None:
                plans.append((p[0], key, p[1], entry))
                if p[0] == 1:
                    break
        if plans:
            _cost, key, make, entry = min(plans, key=lambda t: t[0])
            with self._lock:
                if key in self._cache:
                    self._cache.move_to_end(key)  # promote on hit
            return make(entry.df), False
        return self._aggregate(query), True

    def _lattice_plan(self, query: CubeQuery) -> DataFrame | None:
        """Serve from a registered lattice when it covers the query.

        Unfiltered queries read the grouping set at exactly query.axes.
        ANY row-level filter on lattice axes drills INTO the lattice —
        eq/in, ranges (gt/ge/lt/le), ne/ni, regex, set algebra: read the
        grouping set at grain (query.axes ∪ filter axes), apply the
        filters to the axis VALUES (reference null semantics via
        FILTER_OPS — sound because the lattice stores label values, the
        same column the scan path filters), and project. An eq filter
        pins a single value of its axis, so the projection down to
        query.axes is one-to-one over finished values — exact for any
        accumulator. Any other op on an axis that is then dropped leaves
        several finished rows per output group (e.g. a date-range drill
        summed into totals), so that path merges finished values and is
        gated on every value being reaggregatable. Cost is a grouping_id
        filter plus an axis-value scan bound over the materialized
        lattice (partition pruning on _gid, min/max skipping on axis
        values, when the lattice is written out that way)."""
        fil = query.filters

        def rescan(reason: str):
            # serve-vs-rescan is only a decision when a lattice exists to
            # serve from; an unregistered board's every query would
            # otherwise flood the log with vacuous "rescan" records
            if self._lattices:
                decisions.record(
                    "lattice",
                    "rescan",
                    context=self.decisions_context,
                    reason=reason,
                    axes=query.axes,
                    values=query.values,
                )
            return None

        if any(op not in FILTER_OPS for _, op, _v in fil):
            return rescan("unsupported_filter_op")
        fnames = {n for n, _, _ in fil}
        wanted = set(query.axes) | fnames
        dropped = fnames - set(query.axes)
        needs_reagg = any(op != "eq" and n in dropped for n, op, _ in fil)
        miss = "not_covered"
        for lat in self._lattices:
            if not (
                wanted <= set(lat.axes) and set(query.values) <= set(lat.values)
            ):
                continue
            srv = getattr(lat, "serve_query", None)
            if srv is not None:
                # register-level lattice (SketchLattice): filters apply to
                # the REGISTER frame and re-max before the estimate, so
                # every filter shape — eq or not, axis kept or dropped —
                # is exact without the reaggregatable gate the
                # finished-value path below needs
                decisions.record(
                    "lattice",
                    "serve",
                    context=self.decisions_context,
                    level="register",
                    axes=query.axes,
                    values=query.values,
                )
                return srv(tuple(query.axes), tuple(query.values), fil, FILTER_OPS)
            if needs_reagg and not self._reaggregatable(query, needed=True):
                miss = "reagg_gate"
                continue
            grain = tuple(a for a in lat.axes if a in wanted)
            df = lat.slice_df(grain)
            for n, op, v in fil:
                df = df.filter(FILTER_OPS[op](F.col(n), v))
            decisions.record(
                "lattice",
                "serve",
                context=self.decisions_context,
                level="finished",
                grain=grain,
                reaggregated=needs_reagg,
                axes=query.axes,
                values=query.values,
            )
            if needs_reagg:
                return self._reaggregate(df, query)
            return df.select(*query.axes, *query.values)
        return rescan(miss)

    def _reuse_plan(self, query: CubeQuery, cached_q: CubeQuery):
        """Return (cost, make) if the slice cached for *cached_q* can
        answer *query*; ``make`` maps the cached frame to the query's
        unordered result."""
        wanted_vals = set(query.values)
        if not wanted_vals <= set(cached_q.values):
            return None
        fq = frozenset((n, op, _freeze_value(v)) for n, op, v in query.filters)
        fc = frozenset((n, op, _freeze_value(v)) for n, op, v in cached_q.filters)

        # exact: same axes + same filters (+ value superset) -> share.
        # Project to the QUERY's columns: the cached frame may carry a
        # value superset / different value order, and serving it raw
        # violates the output contract (found by the navigation fuzz —
        # a subset query got the parent's extra measure columns).
        if query.axes == cached_q.axes and fq == fc:
            return 1, lambda df: df.select(*query.axes, *query.values)

        # drill: cached axes = query axes + extra axes, and the query adds
        # eq filters on exactly those extra axes -> filter cached RESULT
        extra_filters = fq - fc
        if fc <= fq and set(cached_q.axes) >= set(query.axes):
            extra_axes = [a for a in cached_q.axes if a not in query.axes]
            drill = {n: v for n, op, v in extra_filters if op == "eq"}
            if len(extra_filters) == len(drill) and set(drill) == set(extra_axes):
                if not self._reaggregatable(query, needed=bool(extra_axes)):
                    return None

                def make_drill(df):
                    for a, v in drill.items():
                        df = df.filter(F.col(a).isNull() if v is None else F.col(a) == F.lit(v))
                    return self._reaggregate(df, query)

                cost = 2 if not extra_axes else 10
                # dropping the drilled axes changes grain -> re-aggregate
                return cost, make_drill

        # roll-up: same filters, query axes subset of cached axes
        if fq == fc and set(query.axes) < set(cached_q.axes):
            if self._reaggregatable(query, needed=True):
                return 10, lambda df: self._reaggregate(df, query)
        return None

    def _reaggregatable(self, query: CubeQuery, needed: bool) -> bool:
        if not needed:
            return True
        return all(self.cubedef.get_value(v).acc.reaggregatable for v in query.values)

    def _reaggregate(self, df: DataFrame, query: CubeQuery) -> DataFrame:
        aggs = [
            self.cubedef.get_value(v).acc.merge(F.col(v)).alias(v) for v in query.values
        ]
        if query.axes:
            return df.groupBy(*[F.col(a) for a in query.axes]).agg(*aggs)
        return df.agg(*aggs)

    # --- source resolution ---------------------------------------------------
    def _frame_for(self, query: CubeQuery) -> DataFrame:
        """The input frame for a query. Subclasses override to build a
        query-minimal source (e.g. StarCuttingBoard culls unused dimension
        joins); the base board uses its fixed DataFrame."""
        return self.df

    # --- physical building blocks ------------------------------------------
    def _predicate(self, query: CubeQuery) -> Column | None:
        preds = []
        for name, op, value in query.filters:
            label = self.cubedef.get_label(name)
            preds.append(build_predicate(label.column(), op, value))
            # sargability rewrite: truncating date labels add the implied
            # raw-column bound so the scan can skip (reference
            # /root/reference/bacon/cubedef.py:728-741; here it reaches
            # parquet PushedFilters instead of a Postgres index)
            extra = getattr(label, "sargable_extra", None)
            if extra is not None:
                ep = extra(op, value)
                if ep is not None:
                    preds.append(ep)
        return combine_filters(preds)

    def _aggregate(self, query: CubeQuery) -> DataFrame:
        return self._aggregate_frame(query, self._frame_for(query))

    def _aggregate_frame(self, query: CubeQuery, df: DataFrame) -> DataFrame:
        pred = self._predicate(query)
        if pred is not None:
            df = df.filter(pred)

        axis_cols = [self.cubedef.get_label(a).column().alias(a) for a in query.axes]

        from .accumulators import SketchDistinct, SketchPercentile

        sketch_vals = [
            v
            for v in query.values
            if isinstance(
                self.cubedef.get_value(v).acc, (SketchDistinct, SketchPercentile)
            )
        ]
        if sketch_vals:
            return self._aggregate_with_sketches(query, df, axis_cols, sketch_vals)

        agg_cols = [self.cubedef.get_value(v).agg_column().alias(v) for v in query.values]

        if not agg_cols:
            # axes-only query: distinct combinations
            return df.select(*axis_cols).distinct()
        if axis_cols:
            return df.groupBy(*axis_cols).agg(*agg_cols)
        # dim=0 query: grand total only (/root/reference/bacon/cutting.py:111-112)
        return df.agg(*agg_cols)

    def _aggregate_with_sketches(
        self,
        query: CubeQuery,
        df: DataFrame,
        axis_cols: list[Column],
        sketch_vals: list[str],
    ) -> DataFrame:
        """SketchDistinct measures can't compile to a single aggregate
        Column: each is planned as its own (axes, bucket) HLL register
        aggregation (operators/sketch.py) whose per-group estimate frame
        joins the ordinary-measure frame on the axes.

        Scale shape: every register frame partial-aggregates map-side
        down to <= |groups|*2^p tiny rows before its shuffle — the whole
        point vs count_distinct's shuffle-every-value — so the join
        inputs here are result-sized. The raw frame is scanned once for
        the ordinary measures plus once per sketch measure; persist the
        input upstream when that matters (the slice cache already does).
        A group whose sketch input is all-null estimates 0.0, matching
        count_distinct."""
        from .accumulators import SketchPercentile
        from .operators.sketch import (
            hist_quantiles,
            hist_sketch,
            hll_estimate,
            hll_registers,
        )

        axes = list(query.axes)
        in_sketch = set(sketch_vals)
        normal_vals = [v for v in query.values if v not in in_sketch]
        agg_cols = [self.cubedef.get_value(v).agg_column().alias(v) for v in normal_vals]
        if axis_cols:
            out = (
                df.groupBy(*axis_cols).agg(*agg_cols)
                if agg_cols
                else df.select(*axis_cols).distinct()
            )
        else:
            out = df.agg(*agg_cols) if agg_cols else None
        for v in sketch_vals:
            meas = self.cubedef.get_value(v)
            base = df.select(*axis_cols, meas.column().alias("__sketch_in__"))
            if isinstance(meas.acc, SketchPercentile):
                # histogram bucket counts per (axes, bucket) — same
                # result-sized-shuffle economics as the HLL registers;
                # the type-1 estimate is integer, cast to double so the
                # all-null-group coalesce below stays type-stable
                est = hist_quantiles(
                    hist_sketch(base, "__sketch_in__", axes),
                    (meas.acc.pct,),
                    axes,
                ).select(*axes, F.col("q_est").cast("double").alias(v))
            else:
                p = meas.acc.p
                est = hll_estimate(
                    hll_registers(base, "__sketch_in__", axes, p=p), axes, p=p
                ).select(
                    *axes, F.coalesce(F.col("hll_estimate"), F.lit(0.0)).alias(v)
                )
            if out is None:
                out = est
            elif axes:
                # NULL axis values are real groups (groupBy keeps them), so
                # the estimate must attach with null-SAFE key equality — a
                # plain equi-join would orphan every NULL-labeled group and
                # coalesce its estimate to 0.0.
                est = est.select(
                    *[F.col(a).alias(f"__est_{a}__") for a in axes], v
                )
                cond = functools.reduce(
                    Column.__and__,
                    [F.col(a).eqNullSafe(F.col(f"__est_{a}__")) for a in axes],
                )
                out = (
                    out.join(est, cond, "left")
                    .drop(*[f"__est_{a}__" for a in axes])
                    .withColumn(v, F.coalesce(F.col(v), F.lit(0.0)))
                )
            else:
                out = out.crossJoin(est)
        # restore the query's declared value order
        return out.select(*axes, *query.values)

    def _order(self, df: DataFrame, query: CubeQuery) -> DataFrame:
        sort_cols: list[Column] = []
        if query.order:
            sign, value_name, _pivot_values = query.order
            if value_name in df.columns:
                # None sorts as 0 (/root/reference/bacon/observers/tables.py:258-275)
                m = F.coalesce(F.col(value_name), F.lit(0))
                sort_cols.append(m.desc() if sign < 0 else m.asc())
        for a in query.axes:
            label = self.cubedef.get_label(a)
            sort_cols.append(label.order_column())
        if sort_cols:
            df = df.orderBy(*sort_cols)
        return df


class Slice:
    """A query result: lazily-collected nested view over the result frame.

    Reference Slice (/root/reference/bacon/cutting.py:525-645): nested dict
    keyed by axis values level by level, leaves = measure records;
    ``slice[v]`` peels one axis; iteration yields axis values in label-key
    order (nulls first). Here the heavy lifting stays in Spark — the slice
    only collects the (small, aggregated) result.
    """

    def __init__(
        self,
        cubedef: CubeDef,
        query: CubeQuery,
        df: DataFrame | None,
        _prefix=(),
        board=None,
        rows=None,
        plan: DataFrame | None = None,
        fresh: bool = False,
        gen: int = 0,
    ):
        self.cubedef = cubedef
        self.query = query
        # the result frame, or a 0-arg thunk building one lazily; None for
        # a board's Spark-routed slice, whose ordered frame is built from
        # *plan* on first use
        self._df = df
        self._prefix = _prefix
        self._tree = None
        self._board = board  # orders *plan*, caches and memoizes its rows
        self._plan = plan  # the board's unordered result plan
        self._fresh = fresh  # plan is a fresh aggregate: cache it on first use
        self._gen = gen  # the board's refresh generation at planning
        self._entry = None  # the cache entry made from a fresh plan
        self._rows = rows  # prefetched rows (warm path): collect() is free

    @property
    def df(self) -> DataFrame:
        if self._df is None:
            if self._fresh:
                self._fresh = False
                self._entry = self._board._pin(self.query, self._plan, self._gen)
            frame = self._plan if self._entry is None else self._entry.df
            self._df = self._board._order(frame, self.query)
        elif callable(self._df):
            self._df = self._df()
        return self._df

    # --- Spark-side access --------------------------------------------------
    def to_df(self) -> DataFrame:
        return self.df

    def explain(self, mode: str = "formatted") -> None:  # pragma: no cover
        self.df.explain(mode)

    # --- materialization ------------------------------------------------------
    def collect(self, max_rows: int | None = None) -> list:
        """Materialize the result rows ONCE per slice, memoized — repeat
        renders and board-level warm navigation reuse them without a new
        Spark job (the reference's cached-slice walk).

        A board's Spark-routed slice runs its unordered plan as one result
        job and orders the rows on the driver with the board's
        ``_py_order``, the same order ``to_df()`` gives. A fresh aggregate
        leaves the collected rows as its slice-cache entry, which serves
        warm navigation on the driver; a cached board memoizes any other
        collected result. Nothing is cached when the board was refreshed
        after this slice was planned.

        *max_rows* is the render-path cardinality guard: when set, the
        collect brings back at most ``max_rows + 1`` rows and a larger
        slice raises QueryError instead of collecting the world — a pivot
        on a high-cardinality axis fails fast and pageable."""
        if self._rows is not None:
            if max_rows is not None and len(self._rows) > max_rows:
                raise _too_many_rows(max_rows)
            return self._rows
        if self._plan is None:
            self._rows = _collect_at_most(self.df, max_rows)
            return self._rows
        board, plan = self._board, self._plan
        rows = _collect_at_most(plan, max_rows)
        board._py_order(self.query, rows)
        if self._fresh:
            self._fresh = False
            self._entry = board._cache_rows(self.query, plan, rows, self._gen)
        elif board.cache_results:
            board._memoize_rows(self.query, plan.schema, rows, self._gen)
        self._rows = rows
        return rows

    # --- collected navigation ------------------------------------------------
    @property
    def axes(self) -> tuple[str, ...]:
        return self.query.axes[len(self._prefix):]

    def _collect(self):
        if self._tree is None:
            rows = self.collect()
            tree: dict = {}
            axes = self.query.axes
            vals = self.query.values
            for row in rows:
                node = tree
                for a in axes[:-1] if axes else []:
                    node = node.setdefault(row[a], {})
                record = {v: row[v] for v in vals}
                if axes:
                    node[row[axes[-1]]] = record
                else:
                    tree = record
            self._tree = tree
        return self._tree

    def _subtree(self):
        node = self._collect()
        for key in self._prefix:
            node = node.get(key, {})
        return node

    def __getitem__(self, value):
        """Peel one axis (/root/reference/bacon/cutting.py:547-560)."""
        if not self.axes:
            raise QueryError("cannot index a 0-dimensional slice")
        child = Slice(
            self.cubedef,
            self.query,
            lambda: self.df,
            self._prefix + (value,),
            rows=self.collect(),
        )
        child._tree = self._collect()
        return child

    def keys(self) -> list:
        """Axis values in label-key order, nulls first
        (/root/reference/bacon/cutting.py:561-575)."""
        if not self.axes:
            return []
        label = self.cubedef.get_label(self.axes[0])
        ks = list(self._subtree().keys())
        ks.sort(key=_sort_key, reverse=label.reverse)
        return ks

    def __iter__(self):
        return iter(self.keys())

    @property
    def record(self) -> dict:
        """Measure record at a leaf (or the grand-total record)."""
        node = self._subtree()
        if self.axes:
            raise QueryError("slice still has axes; index into it first")
        return node

    def value(self, measure: str):
        return self.record[measure]

    def rows(self, max_rows: int | None = None) -> list[dict]:
        """Flat row dicts (axis cols + visible measure cols), in result
        order — convenience for renderers. *max_rows* applies the same
        render-path cardinality guard as :meth:`collect`."""
        visible = self.query.visible_values
        out = []
        for row in self.collect(max_rows=max_rows):
            d = {a: row[a] for a in self.query.axes}
            d.update({v: row[v] for v in visible})
            out.append(d)
        return out


class SliceMatrix:
    """Row×column matrix view of a slice — the reference's intended
    consumption API, specified by its (skipped) tests
    (/root/reference/tests/test_cutboard.py:95-212): ``rows()`` /
    ``rows_with_label()`` / ``col_labels()`` / ``cols_with_label()`` /
    ``series()`` / ``series_labels()``, with missing cells as None.

    With one visible value, cells are scalars ("flat"); with several, cells
    are namedtuples of the values (the non-flat form).
    """

    def __init__(self, slice_: Slice, col_axes: tuple[str, ...] = ()):
        from collections import namedtuple

        self.slice = slice_
        query = slice_.query
        self.col_axes = tuple(col_axes)
        self.row_axes = tuple(a for a in query.axes if a not in self.col_axes)
        self.values = query.visible_values
        self._flat = len(self.values) == 1
        self._tuple = namedtuple("Record", self.values)  # noqa: PYI024

        cd = slice_.cubedef
        raw = slice_.collect()
        row_keys, col_keys, cells = [], [], {}
        seen_r, seen_c = set(), set()
        for r in raw:
            rk = tuple(r[a] for a in self.row_axes)
            ck = tuple(r[a] for a in self.col_axes)
            if rk not in seen_r:
                seen_r.add(rk)
                row_keys.append(rk)
            if ck not in seen_c:
                seen_c.add(ck)
                col_keys.append(ck)
            vals = tuple(r[v] for v in self.values)
            cells[(rk, ck)] = vals[0] if self._flat else self._tuple(*vals)

        def keysort(keys, axes):
            for i in range(len(axes) - 1, -1, -1):
                label = cd.get_label(axes[i])
                keys.sort(key=lambda k, i=i: _sort_key(k[i]), reverse=label.reverse)
            return keys

        self._row_keys = keysort(row_keys, self.row_axes)
        self._col_keys = keysort(col_keys, self.col_axes)
        self._cells = cells

    @staticmethod
    def _unwrap(key: tuple):
        return key[0] if len(key) == 1 else key

    def value_labels(self) -> list[str]:
        return list(self.values)

    def row_labels(self) -> list:
        return [self._unwrap(k) for k in self._row_keys]

    def col_labels(self) -> list:
        return [self._unwrap(k) for k in self._col_keys]

    def cell(self, row_key, col_key=()):
        rk = row_key if isinstance(row_key, tuple) else (row_key,)
        ck = col_key if isinstance(col_key, tuple) else (col_key,)
        return self._cells.get((rk, ck))

    def rows(self):
        for rk in self._row_keys:
            yield [self._cells.get((rk, ck)) for ck in self._col_keys]

    def rows_with_label(self):
        for rk in self._row_keys:
            yield self._unwrap(rk), [self._cells.get((rk, ck)) for ck in self._col_keys]

    def cols_with_label(self):
        for ck in self._col_keys:
            yield self._unwrap(ck), [self._cells.get((rk, ck)) for rk in self._row_keys]

    def series(self):
        """1-D form: one cell per row (requires no column axes)."""
        if self.col_axes:
            raise QueryError("series() requires a slice without column axes")
        for rk in self._row_keys:
            yield self._cells.get((rk, ()))

    def series_labels(self):
        if self.col_axes:
            raise QueryError("series_labels() requires a slice without column axes")
        return self.row_labels()
