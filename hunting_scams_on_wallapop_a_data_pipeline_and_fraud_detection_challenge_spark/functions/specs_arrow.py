"""UD2 spec extraction as one scalar Arrow UDF — the production path.

``functions/specs.py`` expresses the reference's ~400-line regex
pipeline (regex_analyzer.py:376-786) as JVM column expressions. That
form is the reference (DuckDB-replayable, golden-pinned), but it is a
~1M-node expression tree after CollapseProject, and every plan that
carries it pays for it in Catalyst analysis and optimization on the
driver. This module runs the SAME decision tree per row with
module-level compiled ``re`` patterns — the reference's own engine, so
Java-vs-sre quirk surface is zero by construction on the RE2-safe
pattern set used here — behind one ``pandas_udf`` over
``(title, description)``: the plan carries a single ``ArrowEvalPython``
node, and every other column stays in the JVM.

``with_specs_arrow`` is the entry point the risk engine, the stats
builder and ud2's ``impl="arrow"`` share. Equivalence to ``with_specs``
is pinned by tests/test_domain_golden.py (golden, seeded fuzz, and
score_listings through both forms, bit-exact) and
tests/test_scale_paths.py (ud2, exact frame compare).

Scale shape: a pure row-local projection — no shuffle, no state; Arrow
batches stream, so memory is bounded by the batch size at any corpus
scale.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .specs import (
    RAM_LIMIT_DEFAULT,
    RAM_LIMITS,
    RE_CONDITION_BROKEN,
    RE_CONDITION_LIKE_NEW,
    RE_CONDITION_NEW,
    RE_CPU_BRAND,
    RE_CPU_FAM_APPLE_M,
    RE_CPU_FAM_ARM,
    RE_CPU_FAM_CORE_I,
    RE_CPU_FAM_LOWEND,
    RE_CPU_FAM_RYZEN,
    RE_GPU_BRAND,
    RE_GPU_MODEL,
    RE_RAM,
    SUB_CATEGORIES_RULES,
    VALID_RAM,
)
from .textprep import SPAM_INDICATORS

# --- compiled once per executor interpreter --------------------------------
_P_RAM = re.compile(RE_RAM)
_P_CPU_BRAND = re.compile(RE_CPU_BRAND)
_P_CORE_I = re.compile(RE_CPU_FAM_CORE_I)
_P_RYZEN = re.compile(RE_CPU_FAM_RYZEN)
_P_APPLE_M = re.compile(RE_CPU_FAM_APPLE_M)
_P_LOWEND = re.compile(RE_CPU_FAM_LOWEND)
_P_ARM = re.compile(RE_CPU_FAM_ARM)
_P_GPU_BRAND = re.compile(RE_GPU_BRAND)
_P_GPU_MODEL = re.compile(RE_GPU_MODEL)
_P_COND_BROKEN = re.compile(RE_CONDITION_BROKEN)
_P_COND_NEW = re.compile(RE_CONDITION_NEW)
_P_COND_LIKE_NEW = re.compile(RE_CONDITION_LIKE_NEW)
_P_SAN1 = re.compile(r"(?i)\b(ssd|disco|disk|drive|almacenamiento)\s+m\.?2\b")
_P_SAN2 = re.compile(r"(?i)\bm\.?2\s+(ssd|nvme|sata)\b")
_P_NON_DIGIT = re.compile(r"[^0-9]")
_P_GPU_SPLIT = re.compile(r"^([A-Z]+)(\d.*)$")
_P_M123 = re.compile(r"M[123]")
_P_I_NUM = re.compile(r"I[0-9]")
_P_I_NUM_FULL = re.compile(r"I[0-9]+")
_P_INTEL_LOW = re.compile(r"CELERON|PENTIUM|ATOM|XEON")
_P_QUALCOMM = re.compile(r"SNAPDRAGON|SQ1|SQ2|SQ3")
_P_RYZEN_NUM = re.compile(r"RYZEN[0-9]")
_WORD_PATTERNS = {
    cat: re.compile(r"\b(?:" + "|".join(re.escape(k) for k in kws) + r")\b")
    for cat, kws in SUB_CATEGORIES_RULES.items()
}
_VALID_RAM = set(VALID_RAM)
_TITLE_APPLE_KWS = ["macbook", "mac air", "mac pro", "imac"]


def _sanitize(text: str) -> str:
    """M.2-SSD disambiguation (regex_analyzer.py:292-313)."""
    return _P_SAN2.sub(r"NVME_\1", _P_SAN1.sub(r"\1_NVME", text))


def _truncate_spam(text: str) -> str:
    """Prefix-scan spam truncation (regex_analyzer.py:248-289): break at
    the first line with >3 indicator hits, keep the prefix."""
    lines = text.split("\n")
    for i, line in enumerate(lines):
        low = line.lower()
        if sum(1 for ind in SPAM_INDICATORS if ind in low) > 3:
            return "\n".join(lines[:i])
    return text


def _extract_ram(text: str, cap: int) -> str | None:
    """Max plausible whitelisted RAM <= cap (regex_analyzer.py:535-563)."""
    valid = [
        v
        for m in _P_RAM.finditer(text)
        if (v := int(m.group(1))) in _VALID_RAM and v <= cap
    ]
    return f"{max(valid)}GB" if valid else None


def _extract_cpu(text: str) -> str | None:
    """Brand + model families + PC-vs-Apple conflict resolution
    (regex_analyzer.py:599-663); mirrors specs.extract_cpu branch for
    branch."""
    tl = text.lower()
    m = _P_CPU_BRAND.search(tl)
    brand0 = m.group(1).upper() if m else None
    fams: list[str] = []
    for mm in _P_CORE_I.finditer(tl):
        s = mm.group(0).replace(" ", "").replace("-", "").upper()
        if _P_I_NUM.match(s):
            fams.append(s)
    for mm in _P_RYZEN.finditer(tl):
        fams.append("RYZEN" + _P_NON_DIGIT.sub("", mm.group(0).upper()))
    for mm in _P_APPLE_M.finditer(tl):
        base, suf = mm.group(1), mm.group(2) or ""
        fams.append((f"{base} {suf}" if suf else base).upper())
    for mm in _P_LOWEND.finditer(tl):
        fams.append(mm.group(0).upper())
    for mm in _P_ARM.finditer(tl):
        fams.append(mm.group(0).upper())
    models = list(dict.fromkeys(fams))

    is_apple = any(_P_M123.match(mo) for mo in models)
    has_pc = brand0 in ("INTEL", "AMD") or any(
        _P_I_NUM_FULL.fullmatch(mo) or "RYZEN" in mo for mo in models
    )
    if has_pc and is_apple:
        models = [mo for mo in models if not _P_M123.match(mo)]
    is_apple = is_apple and not has_pc
    brand1 = "APPLE" if is_apple else brand0
    if is_apple:
        models = [mo for mo in models if _P_M123.match(mo)]
    if not models:
        return None
    best = max(models)
    if is_apple or "M1" in best or "M2" in best or "M3" in best:
        brand2 = "APPLE"
    elif "RYZEN" in best:
        brand2 = "AMD"
    elif _P_I_NUM.match(best):
        brand2 = "INTEL"
    elif _P_INTEL_LOW.search(best):
        brand2 = "INTEL"
    elif _P_QUALCOMM.search(best):
        brand2 = "QUALCOMM"
    else:
        brand2 = brand1
    best2 = best.replace("RYZEN", "RYZEN ") if _P_RYZEN_NUM.search(best) else best
    if brand2 == "APPLE" and not best2.startswith("APPLE"):
        return "APPLE " + best2
    if brand2 is not None:
        return f"{brand2} {best2}".strip()
    return best2


def _extract_gpu(text: str) -> str | None:
    """GPU brand+model normalization (regex_analyzer.py:495-528,631-642)."""
    tl = text.lower()
    m = _P_GPU_BRAND.search(tl)
    brand0 = m.group(1).upper() if m else None
    if brand0 == "GEFORCE":
        brand0 = "NVIDIA"
    models = list(dict.fromkeys(mm.group(1).upper() for mm in _P_GPU_MODEL.finditer(tl)))
    if not models:
        return None
    best = max(models)
    best2 = _P_GPU_SPLIT.sub(r"\1 \2", best) if " " not in best else best
    if "RTX" in best2 or "GTX" in best2 or "MX" in best2 or "QUADRO" in best2:
        brand2 = "NVIDIA"
    elif "RX" in best2 or "RADEON" in best2 or "FIREPRO" in best2:
        brand2 = "AMD"
    else:
        brand2 = brand0
    if brand2 is not None:
        final = re.sub(brand2, "", best2).strip()
        return f"{brand2} {final}".strip()
    return best2


def _condition(full_text_lower: str) -> str:
    """Precedence BROKEN > NEW > LIKE_NEW > USED (regex_analyzer.py:777-786)."""
    if _P_COND_BROKEN.search(full_text_lower):
        return "BROKEN"
    if _P_COND_NEW.search(full_text_lower):
        return "NEW"
    if _P_COND_LIKE_NEW.search(full_text_lower):
        return "LIKE_NEW"
    return "USED"


def _classify(ft: str, cpu: str | None, gpu: str | None) -> str:
    """Ordered category tree (regex_analyzer.py:670-721); WHEN order is
    the semantics — mirrors specs.classify_prime_category."""
    cpu_str = (cpu or "").upper()
    if "APPLE M" in cpu_str:
        return "APPLE"
    if gpu is not None and "quadro" in gpu.lower():
        return "WORKSTATION"
    if gpu is not None:
        return "GAMING"
    if ("macbook" in ft or "macos" in ft) and "AMD" not in cpu_str:
        return "APPLE"
    for cat in ("SURFACE", "WORKSTATION", "PREMIUM_ULTRABOOK", "CHROMEBOOK"):
        if _WORD_PATTERNS[cat].search(ft):
            return cat
    if "gaming" in ft:
        return "GAMING"
    return "GENERICO"


def extract_specs_row(title: str | None, desc: str | None):
    """Full with_specs pipeline for one row: sanitize → truncate spam →
    title-priority merge → title-keyword overrides → category
    constraints → condition (regex_analyzer.py:724-786). Returns
    (cpu, ram, gpu, category, condition_regex)."""
    tc = _sanitize(title or "")
    dc = _sanitize(_truncate_spam(desc or ""))
    ft = f"{tc} {dc}".lower()
    tl = tc.lower()
    dh = dc[:400]

    cpu_t = _extract_cpu(tc)
    cpu0 = cpu_t if cpu_t is not None else _extract_cpu(dh)
    ram_t = _extract_ram(tl, RAM_LIMIT_DEFAULT)
    ram0 = ram_t if ram_t is not None else _extract_ram(dh.lower(), RAM_LIMIT_DEFAULT)
    gpu_t = _extract_gpu(tc)
    gpu = gpu_t if gpu_t is not None else _extract_gpu(dh)

    if "chromebook" in tl:
        category = "CHROMEBOOK"
    elif any(kw in tl for kw in _TITLE_APPLE_KWS):
        category = "APPLE"
    elif "surface" in tl:
        category = "SURFACE"
    else:
        category = _classify(ft, cpu0, gpu)

    limit = RAM_LIMITS.get(category, RAM_LIMIT_DEFAULT)
    ram_int = int(_P_NON_DIGIT.sub("", ram0)) if ram0 and _P_NON_DIGIT.sub("", ram0) else 0
    ram = _extract_ram(ft, limit) if ram_int > limit else ram0

    cpu = cpu0
    if category == "CHROMEBOOK" and cpu0 and "I7" in cpu0:
        if "celeron" in ft:
            cpu = "INTEL CELERON"
        elif "pentium" in ft:
            cpu = "INTEL PENTIUM"

    return cpu, ram, gpu, category, _condition(ft)


#: The five spec columns, in the order ``with_specs`` appends them.
_SPEC_COLUMNS = ("gpu", "category", "ram", "cpu", "condition_regex")
_ROW_ORDER = ("cpu", "ram", "gpu", "category", "condition_regex")


# pandas is imported at module level on purpose: with postponed
# annotations the UDF's type hints are resolved from this module's
# globals.
@F.pandas_udf(T.StructType([T.StructField(c, T.StringType()) for c in _ROW_ORDER]))
def _specs_udf(title: pd.Series, desc: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(
        [extract_specs_row(t, d) for t, d in zip(title, desc)],
        columns=list(_ROW_ORDER),
    )


def with_specs_arrow(
    df: DataFrame, title_col: str = "title", desc_col: str = "description"
) -> DataFrame:
    """``with_specs`` through the row kernel: same five columns, same
    names, types and order, one ``ArrowEvalPython`` in the plan. Only
    the two text columns cross into Python."""
    tmp = "__specs"
    out = df.withColumn(tmp, _specs_udf(F.col(title_col), F.col(desc_col)))
    return out.withColumns({c: F.col(f"{tmp}.{c}") for c in _SPEC_COLUMNS}).drop(tmp)
