"""Independent DuckDB check of one TableOne result.

The expected table is computed by DuckDB over the same rows the engine
read (parquet files, or the registry's live set). Counts and percents
must match exactly, moments and test statistics to a relative
tolerance, and each quartile must be an actual data value whose rank is
within the engine's documented bound of the ``quantile_disc`` rank:
one rank (the sketch's accuracy == n+1 quirk) plus ``n / accuracy``
with ``accuracy = min(max(total + 1, 10000), 100000)``. Weighted
quartiles are exact (``min x with cumulative weight >= p * total``).
"""

from __future__ import annotations

import math

import duckdb

MISSING = "MISSING"
REL_TOL = 1e-7
SKETCH_CAP = 100_000
CONT_LABELS = ["n", "min", "max", "mean", "stddev", "25th percentile",
               "50th percentile", "75th percentile"]
QUARTILES = {"25th percentile": 0.25, "50th percentile": 0.5, "75th percentile": 0.75}


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _lit(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


def _close(a, b, tol: float = REL_TOL) -> bool:
    if a is None or b is None:
        return a is None and b is None
    a, b = float(a), float(b)
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


def category_rank(v: str) -> tuple:
    """The reference's within-variable ladder: Yes, No, the rest sorted,
    missing/unknown/other-like values, then MISSING."""
    low = v.lower()
    if v == "Yes":
        k = 1
    elif v == "No":
        k = 2
    elif v == MISSING:
        k = 6
    elif "missing" in low or "unknown" in low or "other" in low:
        k = 5
    else:
        k = 3
    return (k, v)


def strat_order(values) -> list[str]:
    vals = sorted(set(values))
    front = [v for v in ("Yes", "No") if v in vals]
    rest = [v for v in vals if v not in ("Yes", "No", MISSING)]
    return front + rest + ([MISSING] if MISSING in vals else [])


def _t_test(g1, g2):
    (n1, m1, v1), (n2, m2, v2) = g1, g2
    sp2 = ((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)
    return "t-test", (m1 - m2) / math.sqrt(sp2 * (1.0 / n1 + 1.0 / n2))


def _anova(groups):
    total = sum(n for n, _, _ in groups)
    grand = sum(n * m for n, m, _ in groups) / total
    ssb = sum(n * (m - grand) ** 2 for n, m, _ in groups)
    ssw = sum((n - 1) * v for n, _, v in groups)
    k = len(groups)
    return "ANOVA", (ssb / (k - 1)) / (ssw / (total - k))


def _chi_square(counts: dict) -> tuple:
    rows = sorted({v for v, _ in counts})
    cols = sorted({s for _, s in counts})
    total = sum(counts.values())
    row_t = {r: sum(counts.get((r, c), 0) for c in cols) for r in rows}
    col_t = {c: sum(counts.get((r, c), 0) for r in rows) for c in cols}
    yates = len(rows) == 2 and len(cols) == 2
    stat = 0.0
    for r in rows:
        for c in cols:
            e = row_t[r] * col_t[c] / total
            d = abs(counts.get((r, c), 0) - e)
            if yates:
                d = max(0.0, d - 0.5)
            stat += d * d / e
    return "Chi-Square", stat


class Oracle:
    """One DuckDB connection; ``check`` returns a list of mismatches."""

    def __init__(self, threads: int = 2):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {threads}")
        self.con.execute("SET enable_progress_bar = false")

    def close(self) -> None:
        self.con.close()

    def expect(self, source: str, strat: str, cat_vars: list[str], cont_vars: list[str],
               weight: str | None) -> dict:
        """Exact aggregates of ``source`` (any DuckDB FROM item)."""
        s = f"coalesce(CAST({_q(strat)} AS VARCHAR), '{MISSING}')" if strat else "NULL"
        w = f"CAST({_q(weight)} AS DOUBLE)" if weight else "CAST(1 AS DOUBLE)"
        where = f"WHERE {_q(weight)} IS NOT NULL AND {_q(weight)} > 0" if weight else ""
        cols = ", ".join(_q(c) for c in dict.fromkeys(cat_vars + cont_vars))
        view = (f"CREATE OR REPLACE TEMP VIEW t1_base AS SELECT {cols}, {s} AS __s, {w} AS __w "
                f"FROM {source} {where}")
        self.con.execute(view)
        # the quartile check reads the rows again, so it recreates the view
        exp = {"view": view, "strat": {}, "total": 0.0, "cat": {}, "cont": {}}
        for key, ct in self.con.execute("SELECT __s, sum(__w) FROM t1_base GROUP BY __s").fetchall():
            exp["total"] += ct
            if strat:
                exp["strat"][key] = ct
        for v in cat_vars:
            exp["cat"][v] = {
                (val, key): ct
                for val, key, ct in self.con.execute(
                    f"SELECT coalesce({_q(v)}, '{MISSING}'), __s, sum(__w) FROM t1_base GROUP BY ALL"
                ).fetchall()
            }
        for v in cont_vars:
            x = f"CAST({_q(v)} AS DOUBLE)"
            rows = self.con.execute(
                f"SELECT CASE WHEN grouping(__s) = 1 THEN NULL ELSE __s END, "
                f"sum(__w) FILTER (WHERE {x} IS NOT NULL), min({x}), max({x}), "
                f"sum(__w * {x}), sum(__w * {x} * {x}), avg({x}), stddev_samp({x}), var_samp({x}) "
                f"FROM t1_base GROUP BY GROUPING SETS ((__s), ())"
            ).fetchall()
            cells = {}
            for key, n, mn, mx, swx, swxx, avg, sd, var in rows:
                if weight and n:
                    mean = swx / n
                    var = (swxx - n * mean * mean) / (n - 1) if n > 1 else None
                    sd = math.sqrt(var) if var is not None and var >= 0 else var
                else:
                    mean = avg
                cells[key] = {"n": n or 0.0, "min": mn, "max": mx, "mean": mean,
                              "stddev": sd, "var": var}
            exp["cont"][v] = cells
        return exp

    def check(self, result: list[dict], exp: dict, strat: str, analyzed: list[tuple[str, str]],
              weight: str | None, p_values: bool, beautify: bool) -> list[str]:
        errs: list[str] = []
        strata = strat_order(exp["strat"]) if strat else []
        count_cols = ["All_Patients"] + strata
        denom = {"All_Patients": exp["total"], **exp["strat"]}
        by_index = {}
        for r in result:
            by_index[round(r["Index"], 4)] = r
        if len(by_index) != len(result):
            errs.append("duplicate Index values in result")
        expected_keys = {0.0}
        quart_checks = []  # (var, cell, p, q, row label)

        def want(key, label, name):
            r = by_index.get(key)
            if r is None:
                errs.append(f"missing row {name}/{label} (Index {key})")
            elif r["Values"] != label:
                errs.append(f"row {key}: Values {r['Values']!r} != {label!r}")
                return None
            return r

        tot = want(0.0, "ALL", "total")
        if tot is not None:
            for c in count_cols:
                if tot.get(c) != denom[c] or tot.get(c + "_%") != 1.0:
                    errs.append(f"total {c}: {tot.get(c)} != {denom[c]}")
        for idx, (var, kind) in enumerate(analyzed, start=1):
            if kind == "cat":
                counts = exp["cat"][var]
                values = sorted({v for v, _ in counts}, key=category_rank)
                for rank, val in enumerate(values, start=1):
                    key = round(idx + rank * 0.01, 4)
                    expected_keys.add(key)
                    r = want(key, val, var)
                    if r is None:
                        continue
                    per = {s: counts.get((val, s), 0) for s in strata}
                    all_ct = sum(per.values()) if strat else counts.get((val, None), 0)
                    for c, ct in [("All_Patients", all_ct)] + list(per.items()):
                        pct = ct / denom[c] if denom[c] else None
                        if r.get(c) != ct or r.get(c + "_%") != pct:
                            errs.append(f"{var}={val} {c}: ({r.get(c)}, {r.get(c + '_%')}) "
                                        f"!= ({ct}, {pct})")
                if p_values:
                    contingency = {(v, s): ct for (v, s), ct in counts.items() if v != MISSING}
                    errs += self._check_test(by_index.get(round(idx + 0.01, 4)),
                                             _chi_square(contingency), var)
            else:
                cells = exp["cont"][var]
                for j, label in enumerate(CONT_LABELS, start=1):
                    key = round(idx + j * 0.1, 4)
                    expected_keys.add(key)
                    r = want(key, label, var)
                    if r is None:
                        continue
                    for c in count_cols:
                        cell = cells.get(None if c == "All_Patients" else c)
                        got = r.get(c)
                        if label in QUARTILES:
                            if cell is None or not cell["n"]:
                                if got is not None:
                                    errs.append(f"{var} {label} {c}: {got} for an empty cell")
                            elif got is None:
                                errs.append(f"{var} {label} {c}: missing quartile")
                            else:
                                quart_checks.append((var, None if c == "All_Patients" else c,
                                                     QUARTILES[label], float(got), cell["n"]))
                            continue
                        want_v = cell[label] if cell else None
                        exact = label in ("n", "min", "max")
                        if not _close(got, want_v, 0.0 if exact else REL_TOL):
                            errs.append(f"{var} {label} {c}: {got} != {want_v}")
                if p_values:
                    groups = [(c["n"], c["mean"], c["var"]) for k, c in
                              sorted(((k, c) for k, c in cells.items() if k is not None),
                                     key=lambda kc: str(kc[0]))]
                    test = _t_test(*groups) if len(groups) == 2 else _anova(groups)
                    errs += self._check_test(by_index.get(round(idx + 0.1, 4)), test, var)
        extra = set(by_index) - expected_keys
        if extra:
            errs.append(f"unexpected rows at Index {sorted(extra)}")
        errs += self._check_layout(result, strat, analyzed, p_values, beautify)
        errs += self._check_quartiles(quart_checks, exp, weight)
        return errs

    @staticmethod
    def _check_test(row, test, var) -> list[str]:
        if row is None:
            return [f"{var}: no anchor row for the test"]
        name, stat = test
        p = row.get("p_value")
        if row.get("test_name") != name or not _close(row.get("test_value"), stat, 1e-6):
            return [f"{var}: test ({row.get('test_name')}, {row.get('test_value')}) != ({name}, {stat})"]
        if p is None or not 0.0 <= p <= 1.0:
            return [f"{var}: p_value {p} outside [0, 1]"]
        return []

    @staticmethod
    def _check_layout(result, strat, analyzed, p_values, beautify) -> list[str]:
        errs = []
        names = {0: "Total"}
        names.update({i: v for i, (v, _k) in enumerate(analyzed, start=1)})
        first = {}
        for r in result:
            i = int(math.floor(r["Index"]))
            if i not in first or (r["Index"], r["Values"]) < (first[i]["Index"], first[i]["Values"]):
                first[i] = r
        for r in result:
            i = int(math.floor(r["Index"]))
            name = names.get(i)
            if beautify:
                want = name.replace("_", " ") if r is first[i] else None
                if "Pivoted_column" in r or "Variable_type" in r:
                    return ["beautified result keeps Pivoted_column/Variable_type"]
            else:
                want = name
                if r["Pivoted_column"] != strat:
                    errs.append(f"Pivoted_column {r['Pivoted_column']!r} != {strat!r}")
            if r["Characteristics"] != want:
                errs.append(f"Index {r['Index']}: Characteristics {r['Characteristics']!r} != {want!r}")
            anchor = i > 0 and round(r["Index"] - i, 4) in (0.01, 0.1)
            if p_values and not anchor and r.get("test_name") is not None:
                errs.append(f"Index {r['Index']}: test outside the anchor row")
        return errs[:5]

    def _check_quartiles(self, checks, exp, weight) -> list[str]:
        if not checks:
            return []
        self.con.execute(exp["view"])
        accuracy = min(max(exp["total"] + 1, 10_000), SKETCH_CAP)
        values = ", ".join(
            f"({_lit(v)}, {'NULL' if c is None else _lit(c)}, {p!r}::DOUBLE, '{q!r}'::DOUBLE)"
            for v, c, p, q, _n in checks
        )
        data = " UNION ALL ".join(
            f"SELECT {_lit(v)} AS var, CAST({_q(v)} AS DOUBLE) AS x, __s, __w FROM t1_base "
            f"WHERE {_q(v)} IS NOT NULL"
            for v in dict.fromkeys(v for v, *_ in checks)
        )
        rows = self.con.execute(
            f"WITH qs(var, cell, p, q) AS (VALUES {values}), data AS ({data}) "
            "SELECT qs.var, qs.cell, qs.p, qs.q, sum(CASE WHEN x < q THEN __w ELSE 0 END), "
            "sum(CASE WHEN x <= q THEN __w ELSE 0 END), sum(__w) FROM qs JOIN data "
            "ON data.var = qs.var AND (qs.cell IS NULL OR data.__s = qs.cell) GROUP BY ALL"
        ).fetchall()
        errs = []
        for var, cell, p, q, lt, le, n in rows:
            p, lt, le, n = float(p), float(lt), float(le), float(n)
            if le <= lt:
                errs.append(f"{var}[{cell}] q{p}: {q} is not a data value")
            elif weight:
                if not lt < p * n <= le:
                    errs.append(f"{var}[{cell}] q{p}: weight below {lt}, through {le}; target {p * n}")
            else:
                target = max(1, math.ceil(p * n))
                bound = 1 + math.ceil(n / accuracy)
                if not lt + 1 - bound <= target <= le + bound:
                    errs.append(f"{var}[{cell}] q{p}: ranks {lt + 1}..{le} vs target {target} ± {bound}")
        if len(rows) != len(checks):
            errs.append(f"{len(checks) - len(rows)} quartiles had no matching data")
        return errs
