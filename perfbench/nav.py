"""``nav``: seeded analyst sessions through ``Controller.render_json``,
with writes beside the reads.

A session opens a view with seed-chosen filters, then clicks: it follows
drill and row-detail links from the previous response's link map, rolls
up, expands an axis, re-sorts, pages, and goes back to earlier views.
Sessions come in blocks of four fixed shapes (SLOTS); the seed picks the
values. Three sessions in four use the ``lineitem`` cube (over the
snapshot cap: first hits run Spark jobs), the fourth the ``orders`` cube
(under the cap: first hits fold the driver-side snapshot). The fourth
session of a block makes more requests than the boards' 20-entry memo
holds, so memo capacity shows.

The ``lineitem`` board starts from a seeded base of about 2/3 of the rows.
Between two blocks of four sessions it absorbs the next seeded delta of the
remaining rows through ``CuttingBoard.refresh`` (the memo is cleared,
persisted slices are merged through ``localCheckpoint`` and the base union
grows), and the client revisits the block's lineitem views, which the
engine answers from the merged persisted slices. Refresh time counts in
the timed wall, so a cache gain that costs writes shows in
``requests_per_s``.

"first" operations are the opens, "follow" operations are every other
request (revisits included); the kind is set here, never by the route the
engine took. Refreshes are neither; they are timed apart.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random

import numpy as np
import pyarrow.parquet as pq

from . import common, cubes

PAGE = 50


def _months():
    out = []
    for y in range(1995, 2002):
        for m in range(1, 13):
            if (y, m) <= (2001, 10):
                out.append(f"{y}-{m:02d}")
    return out


MONTHS = _months()


#: each session's clicks after its open, as a fixed script. Short sessions
#: stay on the views the open computed; long ones also expand to finer
#: grains and make more requests than the 20-entry memo holds.
SHORT = ("drill", "drill", "rollup", "back", "detail", "back", "reorder", "page",
         "drill", "back")
LONG = SHORT + ("expand", "drill", "reorder", "rollup", "back", "detail", "page",
                "back", "drill", "expand", "drill", "back", "rollup", "page",
                "detail", "back", "expand", "reorder")
#: one block of sessions: (cube, opening axes, opening filter shapes,
#: script). The shapes are fixed and the seed picks only values (months,
#: categories, key bounds, rows, measures), so every seed sends requests of
#: the same shapes, which the engine routes the same way.
SLOTS = (
    ("lineitem", ("returnflag", "ship_month"), ("month_ge", "month_le"), SHORT),
    ("lineitem", ("linestatus", "returnflag"), ("month_ge", "key_lt"), SHORT),
    ("orders", ("priority", "order_month"), ("month_ge", "cat_in"), SHORT),
    ("lineitem", ("suppkey",), ("cat_in", "month_ge"), LONG),
)
#: the timed phase runs whole blocks of the SLOTS sessions, with a refresh
#: and revisits between blocks; a block and its refresh take about
#: BLOCK_SECONDS on a 4-core machine, so a run makes seconds/BLOCK_SECONDS
#: blocks and every run of a seed does the same work
BLOCK_SECONDS = 10
N_DELTAS = 40
#: views read by a ``cache_results=False`` board at the end of a run and
#: compared with the refreshed board's answers
FINAL_VIEWS = (
    "a:returnflag/a:linestatus/v:sum_qty/v:sum_price/v:n_lines",
    "a:ship_month/v:disc_price",
    "a:suppkey/v:n_lines",
)


class SessionGen:
    """Request generator. It sees only what a browser would: the previous
    response's ``query`` string, its rows and its link map."""

    def __init__(self, seed: int, key_max: dict):
        self.rng = random.Random(seed)
        self.key_max = key_max

    def open(self, slot) -> dict:
        rng = self.rng
        cube, axes, shapes, _script = slot
        spec = cubes.SPECS[cube]
        month, key = spec["month"], spec["key"]
        lo = rng.randrange(len(MONTHS) - 36)
        filters = []
        for shape in shapes:
            if shape == "month_ge":
                filters.append(f"f:{month}:ge:{MONTHS[lo]}")
            elif shape == "month_le":
                filters.append(f"f:{month}:le:{MONTHS[lo + rng.randrange(12, 36)]}")
            elif shape == "key_lt":
                hi = self.key_max[cube]
                filters.append(f"f:{key}:lt:{rng.randrange(hi // 4, hi)}")
            elif shape == "cat_in":
                label = next(
                    c for c in sorted(spec["cats"]) if c not in axes and len(spec["cats"][c]) > 2
                )
                picked = sorted(rng.sample(spec["cats"][label], 2))
                filters.append(f"f:{label}:in:" + ":".join(picked))
        values = rng.sample(sorted(spec["measures"]), 2)
        q = "/".join(filters + [f"a:{a}" for a in axes] + [f"v:{v}" for v in values])
        return {"q": q, "page": f"{PAGE}:0"}

    def follow(self, cube: str, act: str, resp: dict, history: list[dict]) -> dict:
        """The request for scripted action *act*; an action the previous
        response does not allow falls back to going back one view."""
        rng, spec = self.rng, cubes.SPECS[cube]
        q = resp["query"]
        parsed = cubes.parse_dsl(q)
        rows, links = resp["rows"], resp.get("links", [])
        parts = [p for p in q.split("/") if p]
        fresh = f"{PAGE}:0"
        if act == "drill" and rows and parsed["axes"]:
            return {"q": links[rng.choice(rows)["cells"][0]["drill"]], "page": fresh}
        if act == "detail" and rows and parsed["axes"]:
            return {"q": links[rng.choice(rows)["detail"]], "page": fresh}
        if act == "page" and resp["nrows"] > PAGE:
            pages = (resp["nrows"] - 1) // PAGE + 1
            return {"q": q, "page": f"{PAGE}:{PAGE * rng.randrange(1, pages)}"}
        if act == "rollup" and (parsed["axes"] or parsed["filters"]):
            axes = [p for p in parts if p.startswith("a:")]
            parts.remove(axes[-1] if axes else [p for p in parts if p.startswith("f:")][-1])
            return {"q": "/".join(parts), "page": fresh}
        if act == "expand":
            pinned = {f[0] for f in parsed["filters"] if f[1] == "eq"}
            free = [a for a in spec["labels"] if a not in parsed["axes"] and a not in pinned]
            if free:
                parts.insert(len([p for p in parts if p[0] in "fa"]), f"a:{free[0]}")
                return {"q": "/".join(parts), "page": fresh}
        if act == "reorder" and parsed["values"]:
            parts = [p for p in parts if not p.startswith("o:")]
            sign = "-" if parsed["order"] is None or not parsed["order"][0] else ""
            parts.append(f"o:{sign}{parsed['values'][0]}")
            return {"q": "/".join(parts), "page": fresh}
        return dict(history[-2] if len(history) > 1 else history[-1])


def key_max(sf: float) -> dict:
    return {"lineitem": max(int(10_000 * sf), 10), "orders": max(int(150_000 * sf), 50)}


def split_lineitem(seed: int, data_dir: str) -> tuple[str, list[str]]:
    """Write the seeded base (about 2/3 of lineitem) and N_DELTAS deltas
    of the remaining rows."""
    out = os.path.join(data_dir, "lineitem_split")
    base = os.path.join(out, "base.parquet")
    deltas = [os.path.join(out, f"delta-{k:03d}.parquet") for k in range(N_DELTAS)]
    os.makedirs(out, exist_ok=True)
    table = pq.read_table(os.path.join(data_dir, "lineitem.parquet"))
    in_base = np.random.default_rng([seed, 7]).random(table.num_rows) < 2 / 3
    pq.write_table(table.filter(in_base), base)
    rest = table.filter(~in_base)
    bounds = np.linspace(0, rest.num_rows, N_DELTAS + 1).astype(int)
    for k, path in enumerate(deltas):
        pq.write_table(rest.slice(bounds[k], bounds[k + 1] - bounds[k]), path)
    return base, deltas


def setup(spark, data_dir: str, base: str):
    """Both boards and their controllers, each warmed by one render of a
    shape no session asks for (a grand total), with caches cleared."""
    from bacon_spark import CuttingBoard
    from bacon_spark.observers.controller import Controller

    ctls = {}
    for name, spec in cubes.SPECS.items():
        path = base if name == "lineitem" else f"{data_dir}/{spec['table']}.parquet"
        board = CuttingBoard(
            cubes.cubedef(name), spark.read.parquet(path), eager_snapshot_rows=cubes.SNAPSHOT_CAP
        )
        ctl = Controller(board)
        ctl.render_json({"q": f"v:{sorted(spec['measures'])[0]}"})
        board.clear_cache()
        ctls[name] = ctl
    return ctls


class _Enough(Exception):
    """Raised when a shortened run has sent its *max_requests*."""


def blocks_for(seconds: float) -> int:
    """Whole blocks a run makes: about *seconds* of timed work, and two at
    least, so every run absorbs a delta (and a traced run has a traced
    and an untraced block)."""
    return max(2, round(seconds / BLOCK_SECONDS))


def run(spark, data_dir, sf, seed, seconds, tracer=None, max_requests=None):
    """Set up SETUP_REPEATS times, then run whole blocks of the seed's
    sessions (or stop after *max_requests* requests). Between two blocks
    the lineitem board absorbs the next delta, and the client revisits the
    previous block's lineitem opening views. The log holds
    (cube, action, params, response, data version); version v means the
    base plus the first v deltas."""
    base, deltas = split_lineitem(seed, data_dir)
    ctls = None
    setups = []
    for _ in range(common.SETUP_REPEATS):
        if ctls is not None:
            for ctl in ctls.values():
                ctl.board.clear_cache()
        t = common.now()
        ctls = setup(spark, data_dir, base)
        setups.append(common.now() - t)
    lineitem = ctls["lineitem"].board
    if tracer is not None:
        for ctl in ctls.values():
            tracer.watch(ctl.board)
    gen = SessionGen(seed, key_max(sf))
    log, first_ms, follow_ms, refresh_ms = [], [], [], []
    state = {"timed": 0.0, "version": 0}

    def send(cube, act, params, kind, unit):
        t = common.now()
        with tracer.request(kind, unit=unit) if tracer else contextlib.nullcontext():
            resp = ctls[cube].render_json(dict(params))
        dt_ = common.now() - t
        state["timed"] += dt_
        (first_ms if kind == "first" else follow_ms).append(dt_ * 1000.0)
        log.append((cube, act, params, resp, state["version"]))
        if max_requests and len(log) >= max_requests:
            raise _Enough
        return resp

    opens: list[dict] = []
    try:
        for b in range(blocks_for(seconds)):
            if b:
                # the write path is always traced; it has no untraced twin,
                # so its unit (None) stays out of the overhead comparison
                if tracer is not None:
                    tracer.enabled = True
                delta = spark.read.parquet(deltas[state["version"]])
                t = common.now()
                with tracer.request("refresh", unit=None) if tracer else contextlib.nullcontext():
                    lineitem.refresh(delta)
                refresh_ms.append((common.now() - t) * 1000.0)
                state["timed"] += refresh_ms[-1] / 1000.0
                state["version"] += 1
                for params in opens:
                    send("lineitem", "revisit", params, "follow", None)
            opens = []
            for k, slot in enumerate(SLOTS):
                if tracer is not None:
                    # each slot shape runs traced in one block and untraced
                    # in the next, so the overhead compares like with like
                    tracer.enabled = (k + b) % 2 == 0
                cube, script = slot[0], slot[3]
                history: list[dict] = []
                resp = None
                for step, act in enumerate(("open",) + script):
                    params = gen.open(slot) if step == 0 else gen.follow(cube, act, resp, history)
                    history.append(params)
                    resp = send(cube, act, params, "first" if step == 0 else "follow", k)
                if cube == "lineitem":
                    opens.append(history[0])
    except _Enough:
        pass
    finals = [
        (v, lineitem.slice(q).collect()) for v, q in zip(FINAL_VIEWS, _parse(lineitem, FINAL_VIEWS))
    ]
    return {
        "attempted": len(log) + len(refresh_ms),
        "requests": len(log),
        "log": log,
        "setups": setups,
        "timed_s": state["timed"],
        "first_ms": first_ms,
        "follow_ms": follow_ms,
        "refresh_ms": refresh_ms,
        "base": base,
        "deltas": deltas[: state["version"]],
        "finals": finals,
    }


def _parse(board, views):
    from bacon_spark.builders.url import UrlQueryBuilder

    b = UrlQueryBuilder(board.cubedef)
    return [b.parse(v) for v in views]


def check_result(spark, con, data_dir, res, outcome) -> None:
    """Every response against DuckDB over the data version it was served
    from; then the refreshed lineitem board's final answers against a
    ``cache_results=False`` board over base plus the absorbed deltas."""
    from bacon_spark import CuttingBoard

    con.execute(f"CREATE OR REPLACE TABLE orders AS SELECT * FROM '{data_dir}/orders.parquet'")
    files = [res["base"]] + res["deltas"]
    for v in range(len(files)):
        src = ", ".join(f"'{f}'" for f in files[: v + 1])
        con.execute(f"CREATE OR REPLACE TABLE lineitem_v{v} AS SELECT * FROM read_parquet([{src}])")
    check(con, res["log"], outcome)
    df = spark.read.parquet(*files)
    fresh = CuttingBoard(cubes.cubedef("lineitem"), df, cache_results=False)
    for (view, rows), q in zip(res["finals"], _parse(fresh, FINAL_VIEWS)):
        want = fresh.slice(q).collect()
        if sorted(map(tuple, rows)) != sorted(map(tuple, want)) and not _close_rows(rows, want):
            outcome.fail(f"nav final lineitem view {view!r} differs from an uncached board")


def _close_rows(a, b) -> bool:
    a, b = sorted(map(tuple, a)), sorted(map(tuple, b))
    return len(a) == len(b) and all(
        len(x) == len(y) and all(common.close(p, q) for p, q in zip(x, y)) for x, y in zip(a, b)
    )


def check(con, log, outcome: common.Outcome) -> None:
    """Compare every response with DuckDB over the data it was served
    from: the row count, each rendered row's values (found by its axis
    key), the page window and order, and the totals."""
    cache: dict = {}
    for cube, _act, params, resp, version in log:
        q = params["q"]
        try:
            parsed = cubes.parse_dsl(resp["query"])
            key = (cube, version, resp["query"])
            if key not in cache:
                table = f"lineitem_v{version}" if cube == "lineitem" else "orders"
                grouped, total = cubes.to_sql(cube, parsed, table)
                cache[key] = (con.execute(grouped).fetchall(), con.execute(total).fetchall()[0])
            rows, total = cache[key]
            problem = _compare(parsed, params, resp, rows, total)
        except Exception as e:  # a malformed response is a wrong answer
            problem = f"{type(e).__name__}: {e}"
        if problem:
            outcome.fail(f"nav {cube} q={q!r} page={params.get('page')}: {problem}")


def _norm(v):
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def _compare(parsed, params, resp, rows, total) -> str | None:
    axes, values = parsed["axes"], parsed["values"]
    na = len(axes)
    expected = [tuple(_norm(x) for x in r[:na]) + tuple(r[na:]) for r in rows]
    if resp["nrows"] != len(expected):
        return f"nrows {resp['nrows']} != {len(expected)}"
    for v, want in zip(values, total):
        if not common.close(resp["totals"].get(v), want):
            return f"total {v} {resp['totals'].get(v)} != {want}"
    # the engine's order: stable sorts by each axis (nulls first), then by
    # the order value with None as 0
    for i in reversed(range(na)):
        expected.sort(key=lambda r, i=i: (r[i] is not None, r[i]))
    if parsed["order"]:
        desc, name = parsed["order"]
        j = na + values.index(name)
        expected.sort(key=lambda r: r[j] if r[j] is not None else 0, reverse=desc)
    limit, offset = (int(x) for x in params["page"].split(":")[:2])
    window = expected[offset : offset + limit]
    if len(window) != len(resp["rows"]):
        return f"page holds {len(resp['rows'])} rows, expected {len(window)}"
    by_key = {r[:na]: r[na:] for r in expected}
    for pos, (got, want) in enumerate(zip(resp["rows"], window)):
        gkey = tuple(c["value"] for c in got["cells"])
        if gkey not in by_key:
            return f"row key {gkey} not in the result"
        for v, w in zip(values, by_key[gkey]):
            if not common.close(got["values"][v], w):
                return f"row {gkey} {v} {got['values'][v]} != {w}"
        if gkey != want[:na]:
            # a tie on the order value may place equal rows either way
            j = values.index(parsed["order"][1]) if parsed["order"] else None
            if j is None or not common.close(
                got["values"][values[j]], want[na + j]
            ):
                return f"row {pos} is {gkey}, expected {want[:na]}"
    return None
