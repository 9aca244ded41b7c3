"""Model post-processing, serialization, and metadata accessors.

The fitted model is a plain nested dict (JSON-serializable) so it can be
broadcast to executors cheaply and checkpointed alongside run metadata.
Mirrors the reference's ``ModelOutputs`` accessors: per-cluster condition
reconstruction (outlier_cpp_interface.pyx:283-774 walks cluster -> tree ->
root) and ``flaggable_values`` (reference __init__.py:750-780).
"""

from __future__ import annotations

import json

import numpy as np


def levels_by_column(model: dict) -> dict:
    """Level list of every categorical or ordinal column the model names:
    the predictors' fit-time levels, then each target's own."""
    levels = dict(model.get("predictor_levels") or {})
    for cm in model["columns"]:
        if cm.get("levels") is not None:
            levels.setdefault(cm["name"], cm["levels"])
    return levels


# One branch condition is ``(col, kind, op, arg)``.  A numeric column
# (timestamps included) has op ``isna``, ``le`` or ``gt`` against the
# split point; a categorical or ordinal column has op ``isna``, ``eq``
# or ``neq`` against a level code, or ``in`` over a tuple of codes.  An
# unseen category takes no branch but ``isna``.  NumPy predict, the
# Catalyst ``score()`` plan and the explanations each compile this one
# form (src/predict.cpp:536-663 evaluates the same conditions).

def _branch(col, kind, branch, point, lev, subset, levels):
    if branch == "isna":
        return (col, kind, "isna", None)
    if kind == "numeric":
        return (col, kind, branch, point)
    if branch in ("eq", "neq"):
        return (col, kind, branch, lev)
    if branch == "le":  # ordinal: levels 0..lev
        return (col, kind, "in", tuple(range(lev + 1)))
    if branch == "gt":
        return (col, kind, "in", tuple(range(lev + 1, len(levels[col]))))
    want = 1 if branch == "in" else 0  # subset: in / notin
    return (col, kind, "in",
            tuple(i for i, s in enumerate(subset or ()) if s == want))


def cluster_condition(cl: dict, levels: dict) -> tuple | None:
    """The cluster's own extra condition on top of its tree path."""
    if cl["split_type"] == "root" or cl["col"] is None:
        return None
    return _branch(cl["col"], cl["col_kind"], cl["split_type"],
                   cl["split_point"], cl["split_lev"], cl["split_subset"],
                   levels)


def edge_condition(parent: dict, child: dict, levels: dict) -> tuple | None:
    """The condition for entering ``child`` from ``parent``: a follow_all
    branch carries its own, a separate-mode subtree is one level of the
    parent's column, and any other child is a side of the parent's
    split.  None means every row enters (the root, and the binarize-mode
    subtrees of a categorical target)."""
    br = child["parent_branch"]
    if br == "root":
        return None
    if br == "allbranch":
        own = child.get("own") or {}
        if own.get("col") is None:
            return None
        return _branch(own["col"], own["kind"], own["branch"],
                       own.get("point"), own.get("lev"), own.get("subset"),
                       levels)
    col = parent.get("col")
    if col is None:
        return None
    if br == "subtrees":
        lev = child.get("branch_lev")
        return None if lev is None else (col, parent["col_kind"], "eq", lev)
    return _branch(col, parent["col_kind"], br, parent["split_point"],
                   parent["split_lev"], parent["split_subset"], levels)


_SHOWN = {"isna": "is NA", "le": "<=", "gt": ">", "eq": "=", "neq": "!=",
          "in": "in"}


def _shown(cond: tuple, levels: dict) -> dict:
    """One condition as the explanation's display dict."""
    col, kind, op, arg = cond
    if op == "isna":
        value = None
    elif kind == "numeric":
        value = arg
    elif op == "in":
        value = [levels[col][i] for i in arg]
    else:
        value = levels[col][arg]
    return {"column": col, "comparison": _SHOWN[op], "value_comp": value,
            "kind": kind}


def attach_conditions(model: dict) -> dict:
    """Precompute each cluster's condition chain (leaf -> root order)."""
    levels = levels_by_column(model)
    for cm in model["columns"]:
        trees = cm["trees"]
        for cl in cm["clusters"]:
            conds = [cluster_condition(cl, levels)]
            t_ix = cl["tree"]
            while t_ix is not None and trees:
                child = trees[t_ix]
                if child["parent_branch"] == "root":
                    break
                conds.append(edge_condition(trees[child["parent"]], child,
                                            levels))
                t_ix = child["parent"]
            cl["conditions"] = [_shown(c, levels) for c in conds
                                if c is not None]
    return model


def flaggable_values(model: dict) -> dict:
    """Per-column flaggable ranges / category sets (B6)."""
    out = {}
    for cm in model["columns"]:
        if cm["kind"] == "numeric":
            out[cm["name"]] = {"low": cm["min_outlier_any"], "high": cm["max_outlier_any"]}
        else:
            out[cm["name"]] = {
                "flaggable": [lev for lev, f in zip(cm["levels"], cm["cat_outlier_any"]) if f]
            }
    return out


class _NpEncoder(json.JSONEncoder):
    def default(self, o):
        if isinstance(o, (np.integer,)):
            return int(o)
        if isinstance(o, (np.floating,)):
            return float(o)
        if isinstance(o, np.ndarray):
            return o.tolist()
        return super().default(o)


def model_to_json(model: dict) -> str:
    clean = {k: v for k, v in model.items() if not k.startswith("_")}
    # json.dumps writes inf and nan as Infinity / NaN, which json.loads reads
    return json.dumps(clean, cls=_NpEncoder)


def model_from_json(s: str) -> dict:
    return json.loads(s)
