"""Rounding-site classifier (r10 verdict #5): every ``round(`` /
``F.round(`` site in the query/oracle/operator code must be provably
tie-free or explicitly converted to the exact-rational discipline.

Background (docs/PARITY_SF01.md): ``round(double, d)`` of an EXACT
rational value (a mean/ratio of fixed-point decimals or integers) can
land ON the ``*.5·10⁻ᵈ`` boundary, where Spark (BigDecimal HALF_UP on
the double's exact binary expansion) and DuckDB (scaled multiply)
may round to different sides. Round 10 converted 40+ such sites to
integer arithmetic (``functions/exact.py``); this sweep keeps the
class dead as the registry evolves by classifying EVERY site:

- ``decimal-exact`` — the rounded expression is DECIMAL-typed (Spark
  and DuckDB both round exact decimals with exact half-up/half-away
  arithmetic; no double is involved, positive-value behavior agrees).
  An ``exact_sum(...)`` / ``exact_sum_sql(...)`` operand is one: the
  helpers of ``functions/exact.py`` sum in ``DECIMAL(18,6)``, and a
  SQL alias of an unscaled ``exact_sum_sql(...)`` resolves to that type.
- ``continuous`` — the expression derives from an irrational /
  transcendental map (sqrt, log, exp, pow, trig, stddev/corr,
  interpolated percentiles, cosine similarity, ...). Its exact value
  is irrational for generic inputs, so it cannot sit ON a decimal
  boundary; both engines round the identical IEEE double.
- ``passthrough`` — the rounded expression SELECTS one of the stored
  input doubles unchanged (min/max/first/last/greatest/least/lag/
  lead/any_value over a bare column, no arithmetic). The testdata's
  value columns are 2-dp fixed-point stored as nearest-doubles; the
  exact binary expansion of nearest(k/100) never has a 5 in the
  (d+1)-th decimal for d ≥ 2 (it is either the exact short decimal —
  zeros beyond 2 dp — or a ...000000x/...999999x expansion), so
  ``round(·, d≥2)`` of a selected input value cannot tie. Scale
  d < 2 is NOT exempt and stays unclassified.
- ``quantize-seam`` — ``F.round(expr, d).cast("decimal(p,d′≥d)")``:
  the round IS the operator's defined quantization of a float- or
  continuous-derived stream into fixed point (the PCA / embedding
  convention). Both engines hold the identical IEEE double; the
  residual risk is that double landing within 1 ulp of a boundary
  under DuckDB's scaled-multiply path (~1e-9/element for float-
  derived values, measured-parity convention per PARITY_SF01.md).
  NOT applicable to exact-rational inputs — those convert.
- ``pragma`` — an explicit ``round-ok: <reason>`` annotation on the
  same or preceding line for sites the heuristics can't see through
  (e.g. a double product that is exact by construction, a
  display-only rounding whose output is not oracle-compared).
- comments and docstrings are skipped (prose, not code).
- anything else is UNCLASSIFIED and fails the audit (exit 1): the
  author must either convert the site to ``exact.py`` arithmetic or
  annotate it with a reason a reviewer can audit.

Usage: ``python scripts/round_audit.py [-v]``; wired into the test
suite via tests/test_round_audit.py.
"""

from __future__ import annotations

import glob
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCAN = (
    ["pipelines_spark/queries.py", "pipelines_spark/oracles.py"]
    + sorted(glob.glob("pipelines_spark/llm/*.py", root_dir=REPO))
    + sorted(glob.glob("pipelines_spark/operators/*.py", root_dir=REPO))
    + sorted(glob.glob("pipelines_spark/functions/*.py", root_dir=REPO))
    + sorted(glob.glob("pipelines_spark/streaming/*.py", root_dir=REPO))
)
#: the exact-arithmetic implementation itself (its round(·, 0) calls
#: recover integer-valued quotients — the mechanism, not the hazard)
SKIP_FILES = {"pipelines_spark/functions/exact.py"}

#: A ``round(`` call is found by word boundary — matches ``round(``,
#: ``F.round(``, SQL ``round(``; skips ``_round(``, ``xround(``.
SITE_RE = re.compile(r"(?<![\w.])(?:F\.)?round\s*\(", re.I)

#: irrational / transcendental derivations: the exact value of the
#: rounded expression is (generically) irrational, so it cannot tie.
CONTINUOUS_RE = re.compile(
    r"sqrt|cbrt|\bln\s*\(|log\d*\s*\(|\blog\s*\(|exp\s*\(|expm1|"
    r"\bpow\b|power\s*\(|percentile|median\s*\(|quantile|stddev|"
    r"std\s*\(|variance|var_samp|var_pop|corr\s*\(|covar|skewness|"
    r"kurtosis|sin\s*\(|cos\s*\(|tan\s*\(|atan|acos|asin|radians|"
    r"degrees|cosine|euclid|entropy|sigmoid|tanh|jsd|_js\b|kl_div|"
    r"_COS_N|haversine|\*\*\s*0\.5",
    re.I,
)

#: identifiers to ignore when resolving variables in a rounded
#: expression to their definitions
_IDENT_STOP = frozenset(
    "F col lit cast alias when otherwise expr abs coalesce nullif "
    "greatest least round CAST AS DOUBLE OVER CASE WHEN THEN ELSE END "
    "sum count avg min max x y c w v s t r n".split()
)

#: DECIMAL-typed operand: rounding exact fixed-point arithmetic,
#: written out or through the exact-sum helpers (functions/exact.py)
DECIMAL_RE = re.compile(
    r"decimal\s*\(|decimal\s*\d|DECIMAL|\bexact_sum(?:_sql)?\s*\(", re.I
)

#: scale of an unscaled ``exact_sum_sql(...)``: it sums DECIMAL(18,6)
EXACT_SUM_SCALE = 6

#: pure selection of a stored input double (no arithmetic): min/max/
#: etc. over a bare column reference, rounded at scale >= 2.
PASSTHROUGH_RE = re.compile(
    r"^\s*(?:F\.)?(?:min|max|first|last|first_value|last_value|"
    r"greatest|least|any_value|lag|lead|mode|median)\s*\(",
    re.I,
)
ARITH_RE = re.compile(r"[*/+\-]")

PRAGMA_RE = re.compile(r"round-ok:\s*(.+)")


def _docstring_lines(path: str, text: str) -> set[int]:
    """Line numbers covered by module/class/function docstrings."""
    import ast

    out: set[int] = set()
    try:
        tree = ast.parse(text)
    except SyntaxError:  # pragma: no cover
        return out
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = getattr(node, "body", [])
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                c = body[0].value
                out.update(range(c.lineno, (c.end_lineno or c.lineno) + 1))
    return out


def _extract_arg(text: str, open_paren: int) -> str:
    """Text of the full argument list of the call opening at
    ``open_paren`` (index of '(')."""
    depth = 0
    for i in range(open_paren, len(text)):
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                return text[open_paren + 1 : i]
    return text[open_paren + 1 :]  # unbalanced (EOF) — classify on what we have


def _resolves_continuous(inner: str, lines: list[str], lineno: int) -> bool:
    """Resolve bare identifiers in the rounded expression to their
    nearest preceding assignment (function-local) or module-level
    definition and test THOSE for continuity markers — catches
    ``F.round(z, 4)`` where ``z = (...) / F.sqrt(...)`` a few lines
    up, and SQL-template sites interpolating ``{_COS_NC}``-style
    module constants."""
    stripped = re.sub(r'"[^"]*"|\'[^\']*\'', "", inner)
    idents = set(re.findall(r"\b[A-Za-z_]\w*\b", stripped)) - _IDENT_STOP
    if not idents:
        return False
    for name in idents:
        pat = re.compile(rf"^\s*{re.escape(name)}\s*(?::[^=]+)?=[^=]")
        # nearest assignment above the site (function-local), else the
        # first module-level one anywhere (template constants)
        cands = [i for i in range(lineno - 1, max(lineno - 200, 0) - 1, -1)
                 if pat.match(lines[i - 1])]
        if not cands:
            cands = [i for i, ln in enumerate(lines, 1) if pat.match(ln)][:1]
        for i in cands[:1]:
            defn = "\n".join(lines[i - 1 : i + 6])
            if CONTINUOUS_RE.search(defn):
                return True
    return False


#: input columns known to be 2-dp fixed-point in the testdata (stored
#: as nearest-doubles; their exact expansions carry no 5 in any
#: decimal position beyond the 2nd, so round(col, d>=2) cannot tie)
_FIXED2_COLS = frozenset(
    "l_quantity l_extendedprice l_discount l_tax o_totalprice "
    "c_acctbal s_acctbal value".split()
)


def _sql_alias_decimal(
    inner: str, lines: list[str], lineno: int, scale: int | None
) -> str | None:
    """Resolve SQL aliases referenced by the rounded expression to a
    ``... AS DECIMAL(p,s) ... AS <alias>`` definition in the
    surrounding SQL (±60 lines). ``round(sum(alias), d)`` of a DECIMAL
    stays in exact decimal arithmetic in both engines → decimal-exact.
    ``round(CAST(x AS DOUBLE), d)`` where x is DECIMAL(p,s) with
    s <= d is an identity rounding (the exact value has <= d
    decimals) → decimal-exact; s > d would be the tie class and stays
    unclassified."""
    stripped = re.sub(r"'[^']*'", "", inner)
    idents = set(re.findall(r"\b[a-z_]\w*\b", stripped)) - {
        "round",
        "sum",
        "cast",
        "as",
        "double",
        "abs",
        "min",
        "max",
        "coalesce",
        "nullif",
        "over",
        "count",
    }
    window = "\n".join(lines[max(lineno - 60, 0) : lineno + 60])
    has_double_cast = re.search(r"AS\s+DOUBLE", inner, re.I) is not None
    for name in idents:
        m = re.search(
            rf"DECIMAL\s*\(\s*\d+\s*,\s*(\d+)\s*\)[^\n]*?\bAS\s+{re.escape(name)}\b",
            window,
            re.I,
        )
        if m:
            s = int(m.group(1))
        elif re.search(
            rf"\{{exact_sum_sql\((?:\"[^\"]*\"|'[^']*')\)\}}[^\n]*?\bAS\s+{re.escape(name)}\b",
            window,
        ):
            s = EXACT_SUM_SCALE
        else:
            continue
        if not has_double_cast:
            return "decimal-exact"  # decimal in, decimal rounding out
        if scale is not None and s <= scale:
            return "decimal-exact"  # identity: exact value has <= d dp
    return None


def _py_alias_decimal(
    inner: str, lines: list[str], lineno: int, scale: int | None
) -> str | None:
    """Python twin of :func:`_sql_alias_decimal`: resolve quoted column
    names in the rounded expression to a nearby (±60 lines)
    ``.cast("decimal(p,s)")…alias("name")`` definition. Rounding the
    decimal directly (no double cast) is exact in both engines; with a
    double cast it is an identity rounding only when s <= scale."""
    names = set(re.findall(r'["\']([A-Za-z_]\w*)["\']', inner))
    if not names:
        return None
    window = "\n".join(lines[max(lineno - 60, 0) : lineno + 60])
    has_double_cast = 'cast("double")' in inner
    for name in names:
        m = re.search(
            rf'decimal\((\d+),\s*(\d+)\)"\)[\s\S]{{0,80}}?\.alias\(\s*"{re.escape(name)}"\s*\)',
            window,
        ) or re.search(
            rf'withColumn\(\s*\n?\s*"{re.escape(name)}",[\s\S]{{0,400}}?decimal\((\d+),\s*(\d+)\)',
            window,
        )
        if not m:
            continue
        s = int(m.group(2))
        if not has_double_cast:
            return "decimal-exact"
        if scale is not None and s <= scale:
            return "decimal-exact"
    return None


def _py_alias_continuous(inner: str, lines: list[str], lineno: int) -> bool:
    """Quoted column names in the rounded expression whose defining
    ``.alias("name")`` / ``withColumn("name", …)`` statement (±60
    lines) carries a continuity marker — e.g. ``F.round(F.col("w") /
    F.col("nrm"), 8)`` where ``nrm`` was aliased from ``F.sqrt``."""
    names = set(re.findall(r'["\']([A-Za-z_]\w*)["\']', inner)) - {
        "double",
        "long",
    }
    if not names:
        return False
    text = "\n".join(lines[max(lineno - 60, 0) : lineno + 60])
    for name in names:
        for m in re.finditer(rf'\.alias\(\s*"{re.escape(name)}"\s*\)', text):
            if CONTINUOUS_RE.search(text[max(m.start() - 300, 0) : m.start()]):
                return True
        m = re.search(rf'withColumn\(\s*\n?\s*"{re.escape(name)}",', text)
        if m and CONTINUOUS_RE.search(text[m.end() : m.end() + 300]):
            return True
    return False


def _round_scale(arg: str) -> int | None:
    """The literal decimal-places argument of the call, if literal."""
    m = re.search(r",\s*(-?\d+)\s*,?\s*$", arg.strip())
    return int(m.group(1)) if m else None


def audit(verbose: bool = False) -> tuple[dict[str, int], list[str]]:
    counts = {
        "decimal-exact": 0,
        "continuous": 0,
        "passthrough": 0,
        "quantize-seam": 0,
        "pragma": 0,
    }
    unclassified: list[str] = []
    for rel in SCAN:
        if rel in SKIP_FILES:
            continue
        path = os.path.join(REPO, rel)
        text = open(path).read()
        lines = text.splitlines()
        doc_lines = _docstring_lines(path, text)
        line_starts = []
        pos = 0
        for ln in lines:
            line_starts.append(pos)
            pos += len(ln) + 1
        for m in SITE_RE.finditer(text):
            lineno = next(
                i for i in range(len(line_starts) - 1, -1, -1) if line_starts[i] <= m.start()
            ) + 1
            here = lines[lineno - 1]
            col = m.start() - line_starts[lineno - 1]
            if lineno in doc_lines:
                continue  # prose in a docstring
            hash_pos = here.find("#")
            if 0 <= hash_pos < col:
                continue  # inside a # comment
            sql_comment = here.find("--")
            if 0 <= sql_comment < col:
                continue  # inside a SQL -- comment (within a string)
            arg = _extract_arg(text, m.end() - 1)
            # pragma applies on the same line or up to 3 lines above
            # (generated SQL can interleave sibling columns)
            above = "\n".join(lines[max(lineno - 4, 0) : lineno - 1])
            pm = PRAGMA_RE.search(here) or PRAGMA_RE.search(above)
            scale = _round_scale(arg)
            inner = re.sub(r",\s*-?\d+\s*$", "", arg.strip())
            if pm:
                cls = "pragma"
            elif DECIMAL_RE.search(arg):
                cls = "decimal-exact"
            elif CONTINUOUS_RE.search(arg):
                cls = "continuous"
            elif (
                PASSTHROUGH_RE.search(inner)
                and scale is not None
                and scale >= 2
                and not ARITH_RE.search(re.sub(r'"[^"]*"|\'[^\']*\'', "", inner))
            ):
                cls = "passthrough"
            elif (
                scale is not None
                and scale >= 2
                and (
                    (
                        re.fullmatch(
                            r"(?:[\w.]+\.)?(\w+)",
                            inner.strip().strip('"').strip("'"),
                        )
                        and inner.strip().strip('"').strip("'").split(".")[-1]
                        in _FIXED2_COLS
                    )
                    or (
                        (fm := re.fullmatch(
                            r'(?:F\.)?col\(\s*["\'](\w+)["\']\s*\)',
                            inner.strip(),
                        ))
                        and fm.group(1) in _FIXED2_COLS
                    )
                )
            ):
                cls = "passthrough"
            elif _resolves_continuous(arg, lines, lineno):
                cls = "continuous"
            elif _py_alias_continuous(inner, lines, lineno):
                cls = "continuous"
            elif (
                scale is not None
                and (
                    qm := re.search(
                        r'\)\s*\.cast\(\s*"decimal\(\d+,\s*(\d+)\)"'
                        r"|\)\s*AS\s+DECIMAL\(\d+,\s*(\d+)\)",
                        text[m.start() : m.start() + 700],
                        re.I,
                    )
                )
                and int(qm.group(1) or qm.group(2)) >= scale
            ):
                cls = "quantize-seam"
            elif (cls2 := _sql_alias_decimal(inner, lines, lineno, scale)):
                cls = cls2
            elif (cls3 := _py_alias_decimal(inner, lines, lineno, scale)):
                cls = cls3
            else:
                unclassified.append(f"{rel}:{lineno}: {here.strip()[:110]}")
                continue
            counts[cls] += 1
            if verbose:
                print(f"{cls:13s} {rel}:{lineno}")
    return counts, unclassified


def main() -> int:
    verbose = "-v" in sys.argv
    counts, unclassified = audit(verbose)
    total = sum(counts.values()) + len(unclassified)
    print(f"rounding sites: {total}  {counts}  unclassified: {len(unclassified)}")
    if unclassified:
        print("\nUNCLASSIFIED (convert to functions/exact.py arithmetic or")
        print("annotate with `round-ok: <reason>`):")
        for s in unclassified:
            print(" ", s)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
