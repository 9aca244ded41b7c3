"""Human-readable explanation rendering (the reference's load-bearing
output: README.md pins these strings byte-for-byte).

Formats follow the reference Python binding exactly:
- row block format: __init__.py:785-969 (print_outliers)
- condition simplification: __init__.py:980-1067 (_simplify_condition)
- dynamic decimals: src/misc.cpp:640-681
"""

from __future__ import annotations

from datetime import datetime, timezone

from .functions.stats import decimals_diff


def simplify_conditions(conditions: list[dict]) -> list[dict]:
    """Merge repeated per-column conditions (B5, __init__.py:980-1067):
    two '<=' -> min; '<=' + '>' -> between; intersect 'in' sets; singleton
    'in' -> '='; then reverse order (root-most first)."""
    by_col: dict[str, list[dict]] = {}
    order: list[str] = []
    for c in conditions:
        if c["column"] not in by_col:
            by_col[c["column"]] = []
            order.append(c["column"])
        by_col[c["column"]].append(c)

    out: list[dict] = []
    for col in order:
        conds = by_col[col]
        if len(conds) == 1:
            out.append(dict(conds[0]))
            continue
        is_na = [c for c in conds if c["comparison"] == "is NA"]
        if is_na:
            out.append(dict(is_na[0]))
            continue
        les = [c for c in conds if c["comparison"] == "<="]
        gts = [c for c in conds if c["comparison"] == ">"]
        ins = [c for c in conds if c["comparison"] == "in"]
        eqs = [c for c in conds if c["comparison"] in ("=", "!=")]
        merged = None
        if les and gts:
            lo = max(g["value_comp"] for g in gts)
            hi = min(l["value_comp"] for l in les)
            merged = dict(les[0])
            merged["comparison"] = "between"
            merged["value_comp"] = (lo, hi)
        elif les:
            merged = dict(les[0])
            merged["value_comp"] = min(l["value_comp"] for l in les)
        elif gts:
            merged = dict(gts[0])
            merged["value_comp"] = max(g["value_comp"] for g in gts)
        elif ins:
            sets = [list(c["value_comp"]) for c in ins]
            inter = [v for v in sets[0] if all(v in s for s in sets[1:])]
            merged = dict(ins[0])
            if len(inter) == 1:
                merged["comparison"] = "="
                merged["value_comp"] = inter[0]
            else:
                merged["comparison"] = "in"
                merged["value_comp"] = inter
        elif eqs:
            merged = dict(eqs[0])
        if merged is not None:
            out.append(merged)
    # singleton 'in' -> '='
    for c in out:
        if c["comparison"] == "in" and isinstance(c["value_comp"], (list, tuple)) \
                and len(c["value_comp"]) == 1:
            c["comparison"] = "="
            c["value_comp"] = c["value_comp"][0]
    out.reverse()
    return out


def print_outliers(violations_pdf, max_outliers: int = 10) -> str:
    """Reference-format report over a violations frame (B4,
    __init__.py:785-969): sort by (uses_NA_branch, tree_depth,
    outlier_score) ascending, print the pre-rendered explanation blocks."""
    tot = len(violations_pdf)
    if tot == 0:
        return "No outliers found in input data.\n"
    ordered = violations_pdf.sort_values(
        ["uses_NA_branch", "tree_depth", "outlier_score"],
        ascending=True).head(max_outliers)
    out = [f"Reporting top {len(ordered)} outliers [out of {tot} found]\n\n"]
    for _, row in ordered.iterrows():
        out.append(row["explanation"])
        out.append("\n")
    return "\n".join(out)


def compile_renderer(model: dict, cm: dict, cl: dict, min_decimals: int = 2):
    """Precompile the per-cluster constant parts of the explanation so the
    hot loop only does per-row value formatting.  Returns
    ``render(row_label, value, value_this_by_col) -> str``."""
    name = cm["name"]
    is_ts = cm.get("is_ts")
    is_num = cm["kind"] == "numeric"
    conds = simplify_conditions(cl.get("conditions") or [])
    levels = cm.get("levels")
    prior = cm.get("prior_prob") or []
    by_maj = (model["config"]["categ_outliers"] == "majority"
              and cl.get("categ_maj", -1) >= 0)
    common = None
    if not is_num and not cm.get("is_bool") and not by_maj:
        common = [levels[i] for i, s in enumerate(cl["subset_common"] or [])
                  if s == 0]

    def render(row_label, value, value_this_by_col):
        lines = []
        dec = min_decimals
        if is_num and not is_ts:
            d = max(0, decimals_diff(value, cl["display_mean"]))
            comp = cl["display_lim_high"] if value >= cl["upper_lim"] \
                else cl["display_lim_low"]
            d = max(d, decimals_diff(value, comp))
            dec = max(min_decimals, d)
        if is_num:
            if is_ts:
                shown = _fmt_ts(value + cm["ts_min"])
                lines.append(f"row [{row_label}] - suspicious column: [{name}]"
                             f" - suspicious value: [{shown}]")
            else:
                lines.append(f"row [{row_label}] - suspicious column: [{name}]"
                             f" - suspicious value: [{value:.{dec}f}]")
            if value >= cl["upper_lim"]:
                pct, thr = cl["perc_below"] * 100, cl["display_lim_high"]
                cmp_s = "<="
            else:
                pct, thr = cl["perc_above"] * 100, cl["display_lim_low"]
                cmp_s = ">="
            if is_ts:
                grp = (f"\tdistribution: {pct:.3f}% {cmp_s} "
                       f"[{_fmt_ts(thr + cm['ts_min'])}]"
                       f" - [mean: {_fmt_ts(cl['display_mean'] + cm['ts_min'])}]"
                       f" - [norm. obs: {cl['cluster_size']}]")
            else:
                grp = (f"\tdistribution: {pct:.3f}% {cmp_s} {thr:.{dec}f}"
                       f" - [mean: {cl['display_mean']:.{dec}f}]"
                       f" - [sd: {cl['display_sd']:.{dec}f}]"
                       f" - [norm. obs: {cl['cluster_size']}]")
            lines.append(grp)
        else:
            lines.append(f"row [{row_label}] - suspicious column: [{name}]"
                         f" - suspicious value: [{value}]")
            code = levels.index(value) if value in levels else -1
            pr = prior[code] if 0 <= code < len(prior) else 0.0
            if cm.get("is_bool"):
                grp = (f"\tdistribution: {(1.0 - cl['perc_in_subset']) * 100:.3f}%"
                       f" different [norm. obs: {cl['cluster_size']}]")
                if conds:
                    grp += f" - [prior_prob: {pr * 100:.3f}%]"
            elif by_maj:
                maj = levels[cl["categ_maj"]]
                grp = (f"\tdistribution: {cl['perc_in_subset'] * 100:.3f}% = [{maj}]"
                       f"\n\t( [norm. obs: {cl['cluster_size']}] - "
                       f"[prior_prob: {pr * 100:.3f}%] )")
            else:
                pct_common = cl["perc_in_subset"] * 100
                if len(common) == 1:
                    grp = f"\tdistribution: {pct_common:.3f}% = [{common[0]}]"
                else:
                    grp = (f"\tdistribution: {pct_common:.3f}% in "
                           f"[{', '.join(str(c) for c in common)}]")
                nmc = cl["perc_next_most_comm"] * 100
                if conds:
                    grp += (f"\n\t( [norm. obs: {cl['cluster_size']}] - "
                            f"[prior_prob: {pr * 100:.3f}%] - "
                            f"[next smallest: {nmc:.3f}%] )")
                else:
                    grp += (f"\n\t( [norm. obs: {cl['cluster_size']}] - "
                            f"[next smallest: {nmc:.3f}%] )")
            lines.append(grp)
        if conds:
            ln = "\tgiven:"
            for cond in conds:
                ln += _cond_line(model, cond, value_this_by_col, min_decimals)
            lines.append(ln)
        return "\n".join(lines)

    return render


def _cond_line(model, cond, value_this_by_col, min_decimals):
    col = cond["column"]
    comp = cond["comparison"]
    vc = cond["value_comp"]
    vt = value_this_by_col.get(col)
    cdec = max(min_decimals,
               decimals_diff(vt, vc) if (_is_num_col(model, col)
                                         and isinstance(vt, (int, float))
                                         and isinstance(vc, (int, float)))
               else 0)
    if comp == "is NA":
        return f"\n\t\t[{col}] is NA"
    if comp == "<=":
        if _is_num_col(model, col):
            return f"\n\t\t[{col}] <= [{vc:.{cdec}f}] (value: {vt:.{cdec}f})"
        return f"\n\t\t[{col}] <= [{vc}] (value: {vt})"
    if comp == ">":
        if _is_num_col(model, col):
            return f"\n\t\t[{col}] > [{vc:.{cdec}f}] (value: {vt:.{cdec}f})"
        return f"\n\t\t[{col}] > [{vc}] (value: {vt})"
    if comp == "between":
        lo, hi = vc
        if _is_num_col(model, col):
            return (f"\n\t\t[{col}] between ({lo:.{cdec}f}, {hi:.{cdec}f}]"
                    f" (value: {vt:.{cdec}f})")
        return f"\n\t\t[{col}] between ({lo}, {hi}] (value: {vt})"
    if comp == "=":
        return f"\n\t\t[{col}] = [{vc}]"
    if comp == "!=":
        return f"\n\t\t[{col}] != [{vc}] (value: {vt})"
    if comp == "in":
        return (f"\n\t\t[{col}] in [{', '.join(str(v) for v in vc)}]"
                f" (value: {vt})")
    return ""


def _fmt_ts(seconds: float) -> str:
    return datetime.fromtimestamp(int(seconds), tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S")


def _is_num_col(model: dict, col: str) -> bool:
    info = model["schema"].get(col)
    return info is not None and info["kind"] in ("numeric", "timestamp")
