"""The exact-arithmetic kit (`functions/exact.py`).

Its numpy snap twin rounds like Spark; widened products stay exact past
int64 — in the kit itself, in the three operators whose int64 products
used to overflow (HITS, Huber trend, DiD readout) and in the streaming
z-score kernel, which numpy used to wrap silently; and no other module
restates the rule."""

from __future__ import annotations

import ast
import datetime as dt
import hashlib
import math
import re
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    co_moment,
    moments,
    snap,
    snap_np,
    wide_np,
)

PKG = Path(__file__).resolve().parents[1] / "timeseriescorrelation_spark"
# the functions whose value_decimals=None selects unsnapped doubles
FLOAT_MODE = {"anomaly_zscore", "anomaly_zscore_sharded",
              "time_weighted_avg", "_anomaly_moments"}
I64 = 2 ** 63
T0 = dt.datetime(2024, 1, 1)
ZS_SCHEMA = ("conv_id string, metric string, ts timestamp, turn_idx int,"
             " value double")


def _round(x: float, d: int = 0) -> float:
    """Spark F.round on a double: HALF_UP on the shortest decimal repr."""
    q = Decimal(1).scaleb(-d)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def test_snap_np_matches_spark_round_at_half_units(spark):
    vals = (
        [k + 0.5 for k in range(-6, 6)]
        + [k / 100 + 0.005 for k in range(-400, 400, 37)]
        + [0.125, -0.125, 2.675, -2.675, 1.005, -1.005, 0.0, 1e-9]
    )
    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(vals)],
                               "i int, v double")
    for d in (0, 2, 3):
        rows = df.select(
            "i", snap("v", d).alias("kit"),
            F.round(F.col("v") * 10 ** d).cast("long").alias("spark"),
        ).orderBy("i").collect()
        twin = snap_np(np.array(vals), d).tolist()
        assert [r["kit"] for r in rows] == twin
        assert [r["spark"] for r in rows] == twin


def test_moments_widen_before_the_product(spark):
    xs = [5_000_000_000, 5_000_000_007, -4_999_999_999]
    ys = [4_000_000_001, 3_999_999_999, 4_000_000_000]
    df = spark.createDataFrame(list(zip(xs, ys)), "x long, y long")
    r = df.agg(*moments("x", "y")).select(
        "*", co_moment("n", "sx", "sy", "sxy").alias("cxy"),
        co_moment("n", "sx", "sx", "sxx").alias("cxx"),
    ).first()
    n, sx, sy = len(xs), sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    assert sxy > I64
    assert (int(r["n"]), int(r["sx"]), int(r["sy"])) == (n, sx, sy)
    assert int(r["sxx"]) == sxx
    assert int(r["syy"]) == sum(y * y for y in ys)
    assert int(r["sxy"]) == sxy
    assert int(r["cxy"]) == n * sxy - sx * sy
    assert int(r["cxx"]) == n * sxx - sx * sx
    one = df.agg(*moments("x", names="k s - ")).first().asDict()
    assert {k: int(v) for k, v in one.items()} == {"k": n, "s": sx}


# --- the three operators that overflowed int64 at sf1 -----------------


def _hits_ref(edges, n_iter):
    w = {}
    for s, d, x in edges:
        w[(s, d)] = w.get((s, d), 0) + x
    nodes = {v for e in w for v in e}
    h = dict.fromkeys(nodes, 1)
    a = {}
    for _ in range(n_iter):
        a = {}
        for (s, d), x in w.items():
            if s in h:
                a[d] = a.get(d, 0) + x * h[s]
        h = {}
        for (s, d), x in w.items():
            if d in a:
                h[s] = h.get(s, 0) + x * a[d]
    th, ta = sum(h.values()), sum(a.values())
    return {
        v: (h.get(v, 0) * 10 ** 6 // th, a.get(v, 0) * 10 ** 6 // ta)
        for v in nodes
    }, max(h.values())


def test_hits_fixedpoint_scores_past_int64(spark):
    from timeseriescorrelation_spark.operators.graphrank import (
        hits_fixedpoint,
    )

    big = 10 ** 6
    edges = [(1, 2, big), (1, 3, big), (4, 2, 3), (5, 3, 7), (5, 1, 2)]
    want, h_max = _hits_ref(edges, 2)
    assert h_max > I64  # the second power round leaves int64
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {
        r["node"]: (r["hub_u"], r["auth_u"])
        for r in hits_fixedpoint(df, n_iter=2).collect()
    }
    assert got == want


def _huber_ref(ys, n_iter=2):
    m = len(ys)
    us = list(range(m))
    su, sy = sum(us), sum(ys)
    suu = sum(u * u for u in us)
    suy = sum(u * y for u, y in zip(us, ys))
    num, den = float(m * suy - su * sy), float(m * suu - su * su)
    b1 = num / den
    b0 = (float(sy) - (num / den) * float(su)) / float(m)

    def resid(b0, b1):
        return [int(_round((float(y) - (b0 + b1 * float(u))) * 1000.0))
                for u, y in zip(us, ys)]

    ru2_max = max(r * r for r in resid(b0, b1))
    ndw = 0
    for _ in range(n_iter):
        ru = resid(b0, b1)
        sr2 = sum(r * r for r in ru)
        delta = 1.345 * math.sqrt(float(sr2) / (float(m) - 2.0))
        sw = swu = swuu = swy = swuy = 0
        ndw = 0
        for u, y, r in zip(us, ys, ru):
            absr = abs(float(r))
            w = 1.0 if absr <= delta else delta / absr
            ud, yd = float(u), float(y)
            sw += int(_round(w * 1e9))
            swu += int(_round(w * ud * 1e9))
            swuu += int(_round(w * ud * ud * 1e9))
            swy += int(_round(w * yd * 1e6))
            swuy += int(_round(w * ud * yd * 1e6))
            ndw += w < 1.0
        swd, swud, swuud = float(sw) / 1e9, float(swu) / 1e9, \
            float(swuu) / 1e9
        swyd, swuyd = float(swy) / 1e6, float(swuy) / 1e6
        wden = swd * swuud - swud * swud
        b1 = (swd * swuyd - swud * swyd) / wden
        b0 = (swyd - b1 * swud) / swd
    ru = resid(b0, b1)
    sr2 = sum(r * r for r in ru)
    sig_mc = math.sqrt(float(sr2) / (float(m) - 2.0))
    return {
        "metric": "m", "n_days": m,
        "slope_per_day": _round(b1 / 100.0, 6),
        "intercept": _round(b0 / 100.0, 6),
        "sigma": _round(sig_mc / 1e3 / 100.0, 6),
        "n_downweighted": ndw,
    }, ru2_max


def test_huber_trend_residual_squares_past_int64(spark):
    from timeseriescorrelation_spark.operators.analytics import huber_trend

    ys = [1000 * d + 37 * (d % 3) for d in range(12)]
    ys[5] = 500_000_000  # one outlier day: 5e6 currency units
    want, ru2_max = _huber_ref(ys)
    assert ru2_max > I64  # ru² of the first reweight leaves int64
    df = spark.createDataFrame(
        [("m", T0 + dt.timedelta(days=d), y / 100) for d, y in
         enumerate(ys)],
        "metric string, ts timestamp, value double",
    )
    got = huber_trend(df).collect()
    assert [r.asDict() for r in got] == [want]


def _did_ref(rows, num=3, den=5):
    days = [ts.date() for _, ts, _ in rows]
    d0, d1 = min(days), max(days)
    split = d0 + dt.timedelta(days=((d1 - d0).days * num) // den)
    cents = {}
    for unit, ts, v in rows:
        key = (unit, "pre" if ts.date() < split else "post")
        cents.setdefault(key, []).append(int(_round(v * 100)))
    cut = int(0.5 * (1 << 16))
    cells = {}
    for (unit, period), cs in cents.items():
        mu = sum(cs) * 10 ** 4 // len(cs)
        arm = "b" if int(hashlib.md5(unit.encode()).hexdigest()[:4], 16) \
            < cut else "a"
        n, sx, sxx = cells.get((arm, period), (0, 0, 0))
        cells[(arm, period)] = (n + 1, sx + mu, sxx + mu * mu)

    def mean(c):
        return float(cells[c][1]) / float(cells[c][0])

    def var_over_n(c):
        n, sx, sxx = (float(x) for x in cells[c])
        return (n * sxx - sx * sx) / (n * n * (n - 1))

    did = (mean(("b", "post")) - mean(("b", "pre"))) - (
        mean(("a", "post")) - mean(("a", "pre"))
    )
    se = math.sqrt(var_over_n(("a", "pre")) + var_over_n(("a", "post"))
                   + var_over_n(("b", "pre")) + var_over_n(("b", "post")))
    out = {f"n_{a}_{p}": cells[(a, p)][0]
           for a in "ab" for p in ("pre", "post")}
    for a in "ab":
        for p in ("pre", "post"):
            out[f"mean_{a}_{p}"] = _round(mean((a, p)) / 1e6, 6)
    out.update(did=_round(did / 1e6, 6), se=_round(se / 1e6, 6),
               z=_round(did / se, 6))
    return out, max(c[2] for c in cells.values())


def test_did_readout_cell_sums_past_int64(spark):
    from timeseriescorrelation_spark.operators.abtest import did_readout

    rows = []
    # Σcents·10⁴ of each unit-period leaves int64 while its mean (mu)
    # still fits a long and Σmu² fits decimal(38,0)
    for u in range(8):
        for d in range(6):
            v = 3.4e12 + (u * 7 + d * 3) % 11 * 2e10 + d * 1e10
            rows.append((f"u{u}", T0 + dt.timedelta(days=d, hours=u), v))
    want, sxx_max = _did_ref(rows)
    assert sxx_max > I64
    assert min(want[k] for k in want if k.startswith("n_")) >= 2
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp, "
                                     "value double")
    got = did_readout(df).first().asDict()
    assert got == want


# --- the streaming kernels ---------------------------------------------


def _drain(spark, tmp_path, rows, schema, build):
    from timeseriescorrelation_spark.streaming.rollup_stream import (
        run_available_now,
    )

    src = tmp_path / "src"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src))
    stream = (
        spark.readStream.schema(schema).parquet(str(src))
        .withWatermark("ts", "10 minutes")
    )
    run_available_now(build(stream), str(tmp_path / "out"),
                      str(tmp_path / "ckpt"))


def test_stream_zscore_priors_past_int64(spark, tmp_path):
    """n·Σx² and (Σx)² leave int64 while Σx² itself still fits the long
    state: numpy int64 wrapped var_num silently; the widened kernel
    scores the 4th point like an exact-integer recomputation."""
    from timeseriescorrelation_spark.streaming.zscore_stream import (
        stream_zscore,
    )

    vals = [2e7, -2e7, 0.0, 1e7]
    cents = snap_np(np.array(vals), 2).tolist()
    n, s = 3, sum(cents[:3])
    ss = sum(c * c for c in cents[:3])
    var_num = n * ss - s * s
    assert var_num > I64 and sum(c * c for c in cents) < I64
    z = (cents[3] * n - s) / math.sqrt(float(var_num))
    want = math.floor(z * 1e6) / 1e6

    rows = [("c", "m", T0 + dt.timedelta(hours=i), i, v)
            for i, v in enumerate(vals)]
    _drain(spark, tmp_path, rows, ZS_SCHEMA, stream_zscore)
    out = str(tmp_path / "out")
    got = {r["turn_idx"]: r["z"] for r in spark.read.parquet(out).collect()}
    assert got == {0: None, 1: None, 2: None, 3: want}


@pytest.mark.parametrize("kernel", ["zscore", "corr"])
def test_stream_state_past_int64_raises(spark, tmp_path, kernel):
    """A carried sum that leaves int64 cannot be stored in the long
    state: the kernel raises (as ANSI mode does in the batch twin)
    instead of carrying a wrapped value into later micro-batches."""
    from timeseriescorrelation_spark.streaming.corr_stream import (
        stream_corr,
    )
    from timeseriescorrelation_spark.streaming.zscore_stream import (
        stream_zscore,
    )

    big = 4e7  # 4e9 cents: its square alone leaves int64
    if kernel == "zscore":
        schema = ZS_SCHEMA
        rows = [("c", "m", T0 + dt.timedelta(hours=i), i, big)
                for i in range(2)]
        build = stream_zscore
    else:
        schema = "metric string, ts timestamp, value double"
        rows = [(m, T0 + dt.timedelta(hours=h), big)
                for h in range(2) for m in ("a", "b")]
        build = lambda s: stream_corr(s, [("a", "b")])  # noqa: E731
    with pytest.raises(Exception, match="does not fit a long"):
        _drain(spark, tmp_path, rows, schema, build)


def test_wide_np_is_exact_where_int64_wraps():
    a = np.array([4_000_000_000, -5_000_000_001], dtype=np.int64)
    with np.errstate(over="ignore"):
        wrapped = (a * a).tolist()
    exact = (wide_np(a) * wide_np(a)).tolist()
    assert exact == [16_000_000_000_000_000_000, 25_000_000_010_000_000_001]
    assert wrapped != exact


# --- one declaration of the rule ---------------------------------------


def _docstrings(tree):
    return {
        id(n.body[0].value) for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                          ast.AsyncFunctionDef))
        and n.body and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }


def test_exact_rule_is_declared_only_in_the_kit():
    """Only functions/exact.py spells the decimal(38,0) type or defines a
    snap: every other module widens and snaps through the kit."""
    type_sites, snap_defs = [], []
    for p in sorted(PKG.rglob("*.py")):
        rel = str(p.relative_to(PKG))
        if rel == "functions/exact.py":
            continue
        tree = ast.parse(p.read_text())
        docs = _docstrings(tree)
        for n in ast.walk(tree):
            if (isinstance(n, ast.Constant) and isinstance(n.value, str)
                    and id(n) not in docs
                    and "decimal(38" in n.value.lower()):
                type_sites.append(f"{rel}:{n.lineno}")
            if (isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and re.match(r"snap(_|$)", n.name)):
                snap_defs.append(f"{rel}:{n.lineno} {n.name}")
    assert type_sites == []
    assert snap_defs == []


def test_value_grid_is_declared_only_in_the_kit():
    """Values snap to the kit's one grid, VALUE_DECIMALS: no function
    takes it as a value_decimals parameter, except the float-mode ones
    whose None default selects a second, unsnapped semantics."""
    sites, float_mode = [], set()
    for p in sorted(PKG.rglob("*.py")):
        rel = str(p.relative_to(PKG))
        for n in ast.walk(ast.parse(p.read_text())):
            if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = n.args
            if all(x.arg != "value_decimals"
                   for x in a.posonlyargs + a.args + a.kwonlyargs):
                continue
            if n.name in FLOAT_MODE:
                float_mode.add(n.name)
            else:
                sites.append(f"{rel}:{n.lineno} {n.name}")
    assert not sites, (
        f"{len(sites)} functions declare value_decimals:\n"
        + "\n".join(sites)
    )
    assert float_mode == FLOAT_MODE


def _defaults(fn) -> dict:
    """``fn``'s defaulted parameters → their default nodes."""
    a = fn.args
    pos = a.posonlyargs + a.args
    pairs = [*zip(pos[len(pos) - len(a.defaults):], a.defaults),
             *zip(a.kwonlyargs, a.kw_defaults)]
    return {x.arg: d for x, d in pairs if d is not None}


ANY = object()


def _parameter_values():
    """(vals, sites): the values each parameter of a package function
    can take, and the ``*_col`` parameters by label.

    A value is a literal, a non-literal default's node, or ``ANY``.  A
    parameter takes its default and every value a call in the package,
    __spark_entry__.py, bench.py, scripts/, perfbench/ or tests/ passes
    it.  A name that a call passes stands for the values of the
    enclosing function's parameter of that name, to a fixed point.
    What the scan cannot follow is ``ANY``: another expression, a
    parameter reassigned in its body, the parameters of a call with
    ``*args``/``**kwargs``, and the required parameters of a function
    passed as a value or named ``__*__``."""
    root = PKG.parent
    paths = [*PKG.rglob("*.py"), root / "__spark_entry__.py",
             root / "bench.py",
             *(p for d in ("scripts", "perfbench", "tests")
               for p in (root / d).rglob("*.py"))]
    defs, vals, sites, calls, passed = {}, {}, {}, [], set()

    def collect(node, rel, in_class=False):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.setdefault(ch.name, []).append((ch, in_class))
                a = ch.args
                for x in a.posonlyargs + a.args + a.kwonlyargs:
                    vals[ch, x.arg] = set()
                    if x.arg.endswith("_col"):
                        sites[ch, x.arg] = (
                            f"{rel}:{ch.lineno} {ch.name} {x.arg}")
                for k, d in _defaults(ch).items():
                    vals[ch, k].add(d.value if isinstance(d, ast.Constant)
                                    else d)
            else:
                collect(ch, rel, in_class or isinstance(ch, ast.ClassDef))

    def walk(node, enclosing):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, ast.Call):
                calls.append((ch, enclosing))
            elif (isinstance(ch, (ast.Name, ast.Attribute))
                  and isinstance(ch.ctx, ast.Load)
                  and not (isinstance(node, ast.Call) and ch is node.func)
                  and not (isinstance(node, ast.Attribute)
                           and ch is node.value)):
                passed.add(getattr(ch, "id", None) or ch.attr)
            walk(ch, ch if isinstance(ch, (ast.FunctionDef,
                                           ast.AsyncFunctionDef))
                 else enclosing)

    for p in sorted(paths):
        tree = ast.parse(p.read_text())
        if PKG in p.parents:
            collect(tree, str(p.relative_to(PKG)))
        walk(tree, None)

    stored = {fn: {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)
                   and not isinstance(n.ctx, ast.Load)}
              for fns in defs.values() for fn, _ in fns}
    for (fn, k), v in vals.items():
        if not v and (fn.name in passed or fn.name.startswith("__")):
            v.add(ANY)
    binds = []
    for c, enclosing in calls:
        f = c.func
        for fn, method in defs.get(getattr(f, "id", None)
                                   or getattr(f, "attr", None), []):
            pos = fn.args.posonlyargs + fn.args.args
            if method and isinstance(f, ast.Attribute):
                pos = pos[1:]
            given = [(k.arg, k.value) for k in c.keywords if k.arg]
            for x, a in zip(pos, c.args):
                if isinstance(a, ast.Starred):
                    break
                given.append((x.arg, a))
            if len(given) < len(c.args) + len(c.keywords):
                for (g, k), v in vals.items():
                    if g is fn:
                        v.add(ANY)
            binds += [(fn, k, a, enclosing) for k, a in given
                      if (fn, k) in vals]

    def values(a, enclosing):
        if isinstance(a, ast.Constant):
            return {a.value}
        if (isinstance(a, ast.Name) and (enclosing, a.id) in vals
                and a.id not in stored[enclosing]):
            return vals[enclosing, a.id]
        return {ANY}

    changed = True
    while changed:
        changed = False
        for fn, k, a, enclosing in binds:
            new = values(a, enclosing) - vals[fn, k]
            if new:
                vals[fn, k] |= new
                changed = True
    return vals, sites


def test_column_names_are_the_schemas():
    """A ``*_col`` parameter of a package function stays only while
    it takes two values (`_parameter_values`): a defaulted one needs a
    call that passes another value than its default, a required one
    two calls that pass different values, or one the scan cannot
    follow.  Neither forwarding the caller's own unset parameter nor
    forwarding a required one that every call sets to the same value
    counts.  Every other column name is the schema's, spelled where it
    is read."""
    vals, sites = _parameter_values()
    unset = sorted(label for (fn, k), label in sites.items()
                   if len(vals[fn, k]) == 1 and ANY not in vals[fn, k])
    assert not unset, _sites_message("single-valued *_col parameters",
                                     unset)


def _sources(skip: str = ""):
    """(path, AST) of every package module and of __spark_entry__.py,
    except the one named ``skip``."""
    root = PKG.parent
    for p in [*sorted(PKG.rglob("*.py")), root / "__spark_entry__.py"]:
        rel = str(p.relative_to(root))
        if rel != skip:
            yield rel, ast.parse(p.read_text())


def _is_call(n, name: str) -> bool:
    """``n`` calls ``name``, bare (``snap(…)``) or as an attribute
    (``F.sum(…)``, ``df.groupBy(…)``)."""
    return isinstance(n, ast.Call) and name in (
        getattr(n.func, "id", None), getattr(n.func, "attr", None)
    )


def _calls(node, name: str) -> list:
    return [n for n in ast.walk(node) if _is_call(n, name)]


def _lit(n):
    """The number a literal or an ``F.lit(<literal>)`` spells, else
    None."""
    if _is_call(n, "lit") and n.args:
        n = n.args[0]
    return n.value if isinstance(n, ast.Constant) else None


def _is_value(n) -> bool:
    """``"value"`` or ``F.col("value")``: the value column."""
    if _is_call(n, "col") and n.args:
        n = n.args[0]
    return isinstance(n, ast.Constant) and n.value == "value"


def _sites_message(what: str, sites: list) -> str:
    return f"{len(sites)} {what}:\n" + "\n".join(sites)


def test_cent_series_is_bucketed_only_in_the_kit():
    """The calendar-bucketed cent series — groupBy(keys,
    date_trunc(grain, ts)) with the one aggregate Σ snap(value) — is
    built by exact.bucket_cents only.  Aggregations that also count or
    take a max spell their own out."""
    sites = []
    for rel, tree in _sources(skip=f"{PKG.name}/functions/exact.py"):
        for n in ast.walk(tree):
            if not (_is_call(n, "agg") and len(n.args) == 1
                    and _is_call(n.func.value, "groupBy")):
                continue
            grouped = any(_calls(a, "date_trunc")
                          for a in n.func.value.args)
            summed = any(
                _is_value(s.args[0])
                for sm in _calls(n.args[0], "sum")
                for s in _calls(sm, "snap") if s.args
            )
            if grouped and summed:
                sites.append(f"{rel}:{n.lineno}")
    assert not sites, _sites_message("hand-written cent series", sites)


def test_values_snap_to_the_grid_constant():
    """Every snap of the value column names the grid,
    VALUE_DECIMALS: no snap/snap_np of it with a literal number of
    decimals (the streaming kernels hold the column as ``vals``), and
    no hand-rolled F.round(F.col("value") * 100)."""
    sites = []
    for rel, tree in _sources():
        for n in ast.walk(tree):
            if ((_is_call(n, "snap") or _is_call(n, "snap_np"))
                    and len(n.args) > 1 and _lit(n.args[1]) is not None
                    and any(_is_value(a) or getattr(a, "id", "") == "vals"
                            for a in ast.walk(n.args[0]))):
                sites.append(f"{rel}:{n.lineno} {ast.unparse(n)}")
            if (_is_call(n, "round") and n.args
                    and isinstance(n.args[0], ast.BinOp)
                    and isinstance(n.args[0].op, ast.Mult)
                    and _is_value(n.args[0].left)
                    and _lit(n.args[0].right) is not None):
                sites.append(f"{rel}:{n.lineno} {ast.unparse(n)}")
    assert not sites, _sites_message("literal value grids", sites)


def test_weekday_rule_is_declared_only_in_timeutil():
    """The engine-neutral weekday, pmod(epoch_day + 4, 7), is spelled
    out only by timeutil.weekday; no module restates its
    1970-01-01-is-Thursday anchor with the ISO offset + 3 either."""
    sites = []
    for rel, tree in _sources(skip=f"{PKG.name}/functions/timeutil.py"):
        for n in ast.walk(tree):
            if (_is_call(n, "pmod") and len(n.args) == 2
                    and _lit(n.args[1]) == 7
                    and isinstance(n.args[0], ast.BinOp)
                    and isinstance(n.args[0].op, ast.Add)
                    and _lit(n.args[0].right) in (3, 4)):
                sites.append(f"{rel}:{n.lineno}")
    assert not sites, _sites_message("weekday rules", sites)
