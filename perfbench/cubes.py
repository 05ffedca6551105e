"""The two cubes the interactive workloads navigate, with the DuckDB SQL
form of every label and measure so answers can be checked against an
independent engine."""

from __future__ import annotations

#: the driver-side snapshot cap both boards are built with: ``orders``
#: (75k rows at sf0.05) fits under it and folds cold queries in Python;
#: ``lineitem`` (300k rows) does not, so its first hits run Spark jobs
SNAPSHOT_CAP = 100_000

#: cube name -> (table, labels, measures, categorical values, month label,
#: key label); labels and measures map name -> DuckDB SQL expression
SPECS = {
    "lineitem": {
        "table": "lineitem",
        "labels": {
            "returnflag": "l_returnflag",
            "linestatus": "l_linestatus",
            "ship_month": "CAST(date_trunc('month', l_shipdate) AS DATE)",
            "suppkey": "l_suppkey",
        },
        "measures": {
            "sum_qty": "SUM(l_quantity)",
            "sum_price": "SUM(l_extendedprice)",
            "disc_price": "SUM(l_extendedprice * (1 - l_discount))",
            "n_lines": "COUNT(*)",
        },
        "cats": {"returnflag": ["A", "N", "R"], "linestatus": ["F", "O"]},
        "month": "ship_month",
        "key": "suppkey",
    },
    "orders": {
        "table": "orders",
        "labels": {
            "status": "o_orderstatus",
            "priority": "o_orderpriority",
            "order_month": "CAST(date_trunc('month', o_orderdate) AS DATE)",
            "custkey": "o_custkey",
        },
        "measures": {
            "total_price": "SUM(o_totalprice)",
            "n_orders": "COUNT(*)",
        },
        "cats": {
            "status": ["F", "O", "P"],
            "priority": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        },
        "month": "order_month",
        "key": "custkey",
    },
}


def cubedef(name: str):
    from bacon_spark import Count, CubeDef, IntLabel, Label, Measure, MonthLabel, Sum

    cd = CubeDef(name)
    if name == "lineitem":
        cd.add_label(Label("returnflag", "l_returnflag"))
        cd.add_label(Label("linestatus", "l_linestatus"))
        cd.add_label(MonthLabel("ship_month", "l_shipdate"))
        cd.add_label(IntLabel("suppkey", "l_suppkey"))
        cd.add_measure(Measure("sum_qty", "l_quantity", acc=Sum()))
        cd.add_measure(Measure("sum_price", "l_extendedprice", acc=Sum()))
        cd.add_measure(Measure("disc_price", "l_extendedprice*(1-l_discount)", acc=Sum()))
        cd.add_measure(Measure("n_lines", "l_orderkey", acc=Count()))
    else:
        cd.add_label(Label("status", "o_orderstatus"))
        cd.add_label(Label("priority", "o_orderpriority"))
        cd.add_label(MonthLabel("order_month", "o_orderdate"))
        cd.add_label(IntLabel("custkey", "o_custkey"))
        cd.add_measure(Measure("total_price", "o_totalprice", acc=Sum()))
        cd.add_measure(Measure("n_orders", "o_orderkey", acc=Count()))
    return cd


def parse_dsl(q: str) -> dict:
    """The subset of the URL DSL the request generator writes, parsed
    without the library: {"filters": [(label, op, [raw values])],
    "axes": [...], "values": [...], "order": (descending, value) | None}."""
    out = {"filters": [], "axes": [], "values": [], "order": None}
    if "\\" in q:
        raise ValueError(f"escaped DSL not generated: {q!r}")
    for cmd in filter(None, q.split("/")):
        tok = cmd.split(":")
        if tok[0] == "f":
            if len(tok) == 3:
                out["filters"].append((tok[1], "eq", [tok[2]]))
            else:
                out["filters"].append((tok[1], tok[2], tok[3:]))
        elif tok[0] == "a":
            out["axes"].append(tok[1])
        elif tok[0] == "v":
            out["values"].append(tok[1])
        elif tok[0] == "o":
            name = tok[1]
            out["order"] = (name.startswith("-"), name.lstrip("-"))
        else:
            raise ValueError(f"unexpected DSL command {cmd!r} in {q!r}")
    return out


_SQL_OPS = {"eq": "=", "ne": "<>", "lt": "<", "le": "<=", "gt": ">", "ge": ">="}


def _sql_literal(spec: dict, label: str, raw: str) -> str:
    if label == spec["month"]:
        return f"DATE '{raw}-01'"
    if label == spec["key"]:
        return str(int(raw))
    return "'" + raw.replace("'", "''") + "'"


def to_sql(cube: str, parsed: dict, table: str | None = None) -> tuple[str, str]:
    """(grouped SQL, grand-total SQL) for a parsed DSL query."""
    spec = SPECS[cube]
    where = []
    for label, op, raws in parsed["filters"]:
        col = spec["labels"][label]
        lits = [_sql_literal(spec, label, r) for r in raws]
        if op in ("in", "ni"):
            neg = "NOT " if op == "ni" else ""
            where.append(f"{col} {neg}IN ({', '.join(lits)})")
        else:
            where.append(f"{col} {_SQL_OPS[op]} {lits[0]}")
    src = table or spec["table"]
    cond = (" WHERE " + " AND ".join(where)) if where else ""
    vals = [f"{spec['measures'][v]} AS {v}" for v in parsed["values"]]
    axes = [f"{spec['labels'][a]} AS {a}" for a in parsed["axes"]]
    grouped = f"SELECT {', '.join(axes + vals)} FROM {src}{cond}"
    if axes:
        grouped += " GROUP BY " + ", ".join(str(i + 1) for i in range(len(axes)))
    total = f"SELECT {', '.join(vals) or '1'} FROM {src}{cond}"
    return grouped, total
