"""Hardware-spec extraction + category classification as native Spark
column expressions (SURVEY §2.8 X3–X12, §2.10 UD2).

The reference's ~400-line per-row Python regex pipeline
(regex_analyzer.py:376-786) is re-expressed as a declarative column
library: ``regexp_extract_all`` per pattern family, array combinators
for set union / conflict resolution, ``when``-chains for the ordered
decision trees. This column form is the reference that the golden
tests and the ud2 DuckDB oracle compare against. Production scoring
runs the same pipeline through the row kernel in
``functions/specs_arrow.py`` (the pandas-UDF path the survey
anticipated for UD2): this form's expression tree is ~1M nodes after
CollapseProject, and every plan that carries it pays that in Catalyst
on the driver.

Parity contract: black-box golden outputs of the reference module on a
59-case corpus (tests/golden/reference_semantics.json), including its
quirks — e.g. "core i7" normalizes to "corei7" and is then dropped by
every classification branch (regex_analyzer.py:616-629), so only a bare
"i7" yields a model; we reproduce that faithfully.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textprep import (
    contains_any,
    matches_any_word,
    sanitize_hardware_ambiguities,
    truncate_spam,
)

# --- pattern table (semantics from regex_analyzer.py:55-144) ---------------
RE_RAM = (
    r"(?i)\b(\d+)\s*(?:gb|gigas?)\b(?!\s*(?:[\.,\-\/]\s*)?(?:de\s+)?"
    r"(?:ssd|hdd|emmc|rom|almacenamiento|storage|disco|nvme|flash|interno|interna))"
)
VALID_RAM = [4, 6, 8, 12, 16, 20, 24, 32, 40, 48, 64]
RAM_LIMITS = {"CHROMEBOOK": 16, "SURFACE": 32, "PREMIUM_ULTRABOOK": 64, "GENERICO": 64}
RAM_LIMIT_DEFAULT = 128

RE_CPU_BRAND = r"(?i)\b(intel|amd|apple|qualcomm|microsoft)\b"
RE_CPU_FAM_CORE_I = r"(?i)\b(?:core\s*-?)?i[3579]\b"
RE_CPU_FAM_RYZEN = r"(?i)\b(ryzen)\s*-?([3579])\b"
RE_CPU_FAM_APPLE_M = r"(?i)\b(m[123])\s*(pro|max|ultra)?\b"
RE_CPU_FAM_LOWEND = r"(?i)\b(celeron|pentium|atom|xeon)\b"
RE_CPU_FAM_ARM = r"(?i)\b(snapdragon|sq[123])\b"

RE_GPU_BRAND = r"(?i)\b(nvidia|amd|radeon|geforce)\b"
RE_GPU_MODEL = r"(?i)\b((?:rtx|gtx|rx)\s*-?\d{3,4}[a-z]*)\b"

RE_CONDITION_NEW = r"\b(nuevo|precintado|sin abrir|estrenar|sealed|new|garantia|factura)\b"
RE_CONDITION_LIKE_NEW = (
    r"\b(como nuevo|impecable|perfecto estado|reacondicionado|refurbished|"
    r"poquisimo uso|sin uso)\b"
)
RE_CONDITION_BROKEN = (
    r"\b(roto|averiado|fallo|bloqueado|icloud|bios|pantalla rota|no enciende|"
    r"no funciona|para piezas|despiece|repuesto|tarada|golpe|mojado|water|"
    r"broken|parts|read|leer|reparar)\b"
)

SUB_CATEGORIES_RULES = {
    "APPLE": ["macbook", "mac", "apple", "macos"],
    "SURFACE": ["surface", "microsoft surface"],
    "WORKSTATION": ["thinkpad", "latitude", "precision", "zbook", "quadro", "elitebook", "probook"],
    "PREMIUM_ULTRABOOK": ["xps", "spectre", "zenbook", "gram", "yoga", "matebook"],
    "GAMING": ["gaming", "gamer", "rog", "tuf", "alienware", "msi", "omen", "predator",
               "legion", "nitro", "victus", "loq", "blade", "razer"],
    "CHROMEBOOK": ["chromebook", "chrome"],
}


def _upper_all(arr: Column) -> Column:
    return F.transform(arr, F.upper)


def _extract_all(text: Column, pattern: str, group: int = 0) -> Column:
    return F.regexp_extract_all(text, F.lit(pattern), group)


# --- RAM (X4) ---------------------------------------------------------------
def extract_ram(text: Column, max_gb: Column | int = RAM_LIMIT_DEFAULT) -> Column:
    """Max plausible RAM value ≤ cap, formatted "NGB"
    (regex_analyzer.py:535-563): whitelist sizes, negative-lookahead
    pattern excludes storage mentions."""
    max_col = F.lit(max_gb) if isinstance(max_gb, int) else max_gb
    vals = F.transform(_extract_all(text, RE_RAM, 1), lambda x: x.cast("int"))
    valid = F.filter(
        vals,
        lambda v: v.isin(VALID_RAM) & (v <= max_col),
    )
    best = F.array_max(valid)
    return F.when(best.isNotNull(), F.concat(best.cast("string"), F.lit("GB")))


# --- CPU (X5) ---------------------------------------------------------------
def _cpu_models(text_lower: Column) -> Column:
    """Union of all CPU model-family matches, normalized per the
    reference's join/classify rules (regex_analyzer.py:605-629)."""
    # Family 1: (core )?iX — the reference joins captured groups and
    # strips space/dash, so "core i7"→"corei7" which fails the
    # startswith('i') test and is DROPPED; only bare "iX" survives.
    fam1 = F.filter(
        _upper_all(
            F.transform(
                _extract_all(text_lower, RE_CPU_FAM_CORE_I, 0),
                lambda m: F.regexp_replace(F.regexp_replace(m, " ", ""), "-", ""),
            )
        ),
        lambda m: m.rlike("^I[0-9]"),
    )
    # Family 2: ryzen N → "RYZEN<digits>"
    fam2 = F.transform(
        _extract_all(text_lower, RE_CPU_FAM_RYZEN, 0),
        lambda m: F.concat(F.lit("RYZEN"), F.regexp_replace(F.upper(m), "[^0-9]", "")),
    )
    # Family 3: Apple M1/M2/M3 (+ Pro/Max/Ultra) — groups joined with a
    # single space regardless of source spacing.
    m_base = _extract_all(text_lower, RE_CPU_FAM_APPLE_M, 1)
    m_suffix = _extract_all(text_lower, RE_CPU_FAM_APPLE_M, 2)
    fam3 = _upper_all(
        F.zip_with(
            m_base,
            m_suffix,
            lambda base, suf: F.when(suf != "", F.concat_ws(" ", base, suf)).otherwise(base),
        )
    )
    fam4 = _upper_all(_extract_all(text_lower, RE_CPU_FAM_LOWEND, 0))
    fam5 = _upper_all(_extract_all(text_lower, RE_CPU_FAM_ARM, 0))
    return F.array_distinct(F.concat(fam1, fam2, fam3, fam4, fam5))


def _clean_cpu_string(brand: Column, models: Column, is_apple: Column) -> Column:
    """Normalize brand+best-model (regex_analyzer.py:445-492): best =
    lexicographic max (sorted-desc[0] ≡ array_max), brand inferred from
    the model, Ryzen spacing, APPLE prefix."""
    best = F.array_max(models)
    brand2 = (
        F.when(
            is_apple | best.contains("M1") | best.contains("M2") | best.contains("M3"),
            F.lit("APPLE"),
        )
        .when(best.contains("RYZEN"), F.lit("AMD"))
        .when(best.rlike("^I[0-9]"), F.lit("INTEL"))
        .when(best.rlike("CELERON|PENTIUM|ATOM|XEON"), F.lit("INTEL"))
        .when(best.rlike("SNAPDRAGON|SQ1|SQ2|SQ3"), F.lit("QUALCOMM"))
        .otherwise(brand)
    )
    best2 = F.when(
        best.rlike("RYZEN[0-9]"), F.regexp_replace(best, "RYZEN", "RYZEN ")
    ).otherwise(best)
    out = (
        F.when(
            (brand2 == "APPLE") & (~best2.startswith("APPLE")),
            F.concat(F.lit("APPLE "), best2),
        )
        .when(brand2.isNotNull(), F.trim(F.concat_ws(" ", brand2, best2)))
        .otherwise(best2)
    )
    return F.when(best.isNotNull(), out)


def extract_cpu(text: Column) -> Column:
    """Full CPU pipeline: brand + model families + Intel/AMD-vs-Apple
    conflict resolution (regex_analyzer.py:599-663)."""
    tl = F.lower(text)
    brand0 = F.nullif(F.upper(F.regexp_extract(tl, RE_CPU_BRAND, 1)), F.lit(""))
    models0 = _cpu_models(tl)
    is_apple0 = F.exists(models0, lambda m: m.rlike("^M[123]"))
    has_pc_cpu = brand0.isin("INTEL", "AMD") | F.exists(
        models0, lambda m: m.rlike("^I[0-9]+$") | m.contains("RYZEN")
    )
    has_pc_cpu = F.coalesce(has_pc_cpu, F.lit(False))
    # Conflict: PC CPU present → drop Apple M models (regex_analyzer.py:645-653)
    models1 = F.when(
        has_pc_cpu & is_apple0,
        F.filter(models0, lambda m: ~m.rlike("^M[123]")),
    ).otherwise(models0)
    is_apple1 = is_apple0 & ~has_pc_cpu
    # Apple confirmed → keep only M models (regex_analyzer.py:655-657)
    brand1 = F.when(is_apple1, F.lit("APPLE")).otherwise(brand0)
    models2 = F.when(
        is_apple1, F.filter(models1, lambda m: m.rlike("^M[123]"))
    ).otherwise(models1)
    return _clean_cpu_string(brand1, models2, is_apple1)


# --- GPU (X6) ---------------------------------------------------------------
def extract_gpu(text: Column) -> Column:
    """GPU brand+model normalization (regex_analyzer.py:495-528,631-642):
    GeForce→NVIDIA, prefix/number spacing, brand inferred from model."""
    tl = F.lower(text)
    brand0 = F.nullif(F.upper(F.regexp_extract(tl, RE_GPU_BRAND, 1)), F.lit(""))
    brand0 = F.when(brand0 == "GEFORCE", F.lit("NVIDIA")).otherwise(brand0)
    models = F.array_distinct(_upper_all(_extract_all(tl, RE_GPU_MODEL, 1)))
    best = F.array_max(models)
    best2 = F.when(
        ~best.contains(" "), F.regexp_replace(best, r"^([A-Z]+)(\d.*)$", r"$1 $2")
    ).otherwise(best)
    brand2 = (
        F.when(
            best2.contains("RTX") | best2.contains("GTX") | best2.contains("MX")
            | best2.contains("QUADRO"),
            F.lit("NVIDIA"),
        )
        .when(
            best2.contains("RX") | best2.contains("RADEON") | best2.contains("FIREPRO"),
            F.lit("AMD"),
        )
        .otherwise(brand0)
    )
    final = F.when(
        brand2.isNotNull(), F.trim(F.regexp_replace(best2, brand2, ""))
    ).otherwise(best2)
    out = F.when(brand2.isNotNull(), F.trim(F.concat_ws(" ", brand2, final))).otherwise(final)
    return F.when(best.isNotNull(), out)


# --- condition (X3) ---------------------------------------------------------
def regex_condition(text_lower: Column) -> Column:
    """Keyword-class condition with precedence BROKEN > NEW > LIKE_NEW >
    USED (regex_analyzer.py:777-786)."""
    return (
        F.when(text_lower.rlike(RE_CONDITION_BROKEN), "BROKEN")
        .when(text_lower.rlike(RE_CONDITION_NEW), "NEW")
        .when(text_lower.rlike(RE_CONDITION_LIKE_NEW), "LIKE_NEW")
        .otherwise("USED")
    )


# --- category (X10/X11) -----------------------------------------------------
def classify_prime_category(full_text_lower: Column, cpu: Column, gpu: Column) -> Column:
    """Ordered category decision tree (regex_analyzer.py:670-721). The
    WHEN order IS the semantics. Note the reference consults
    specs["cpu_brand"] which its own caller never provides — that branch
    reduces to the macbook/macos text test, reproduced as-is."""
    cpu_str = F.upper(F.coalesce(cpu, F.lit("")))
    apple_kw = full_text_lower.contains("macbook") | full_text_lower.contains("macos")
    return (
        F.when(cpu_str.contains("APPLE M"), "APPLE")
        .when(gpu.isNotNull() & F.lower(gpu).contains("quadro"), "WORKSTATION")
        .when(gpu.isNotNull(), "GAMING")
        .when(apple_kw & ~cpu_str.contains("AMD"), "APPLE")
        .when(matches_any_word(full_text_lower, SUB_CATEGORIES_RULES["SURFACE"]), "SURFACE")
        .when(
            matches_any_word(full_text_lower, SUB_CATEGORIES_RULES["WORKSTATION"]),
            "WORKSTATION",
        )
        .when(
            matches_any_word(full_text_lower, SUB_CATEGORIES_RULES["PREMIUM_ULTRABOOK"]),
            "PREMIUM_ULTRABOOK",
        )
        .when(matches_any_word(full_text_lower, SUB_CATEGORIES_RULES["CHROMEBOOK"]), "CHROMEBOOK")
        .when(full_text_lower.contains("gaming"), "GAMING")
        .otherwise("GENERICO")
    )


# --- full prioritized pipeline (X7, X11, X12) -------------------------------
def with_specs(
    df: DataFrame,
    title_col: str = "title",
    desc_col: str = "description",
    prefix: str = "",
) -> DataFrame:
    """The UD2 pipeline as pure columns: sanitize → truncate spam →
    title-priority spec merge → title-keyword category overrides →
    category constraints → regex condition
    (regex_analyzer.py:724-786). Adds columns: cpu, ram, gpu, category,
    condition_regex (optionally prefixed)."""
    # Each stage materializes its outputs as real columns before the next
    # stage references them. The extraction subtrees are large; inlining
    # them into every consumer (category → RAM-cap → chromebook-fix all
    # reference earlier results repeatedly) makes the analysis tree grow
    # combinatorially and OOMs the driver. Sequential projections keep
    # references as attributes; Catalyst's CollapseProject leaves
    # multiply-referenced non-cheap aliases alone.
    p = prefix
    t = f"__{p}spec_"  # temp column namespace

    step = df.withColumns(
        {
            t + "title_clean": sanitize_hardware_ambiguities(
                F.coalesce(F.col(title_col), F.lit(""))
            ),
            t + "desc_clean": sanitize_hardware_ambiguities(
                truncate_spam(F.coalesce(F.col(desc_col), F.lit("")))
            ),
        }
    )
    tc, dc = F.col(t + "title_clean"), F.col(t + "desc_clean")
    step = step.withColumns(
        {
            t + "full_text": F.lower(F.concat_ws(" ", tc, dc)),
            t + "title_lower": F.lower(tc),
            t + "desc_head": F.substring(dc, 1, 400),  # description capped at 400 chars
        }
    )
    ft, tl, dh = F.col(t + "full_text"), F.col(t + "title_lower"), F.col(t + "desc_head")

    # X7: title priority, description fallback — per field. The six
    # extraction columns (cpu/ram/gpu × title/desc) are TWO applications
    # of the same three extractor trees, so they are packed as ONE
    # ``transform`` over ``[title_clean, desc_head]`` with the input
    # bound as a lambda variable: the plan carries ONE copy of each
    # extractor tree instead of two, which halves the Catalyst analysis
    # cost of the heaviest stage (r13 optimization, guide §1.2 step 2:
    # measured 4.6 s → 2.2 s per with_specs BUILD at sf0.1 —
    # driver-side analysis, not data work — with bit-identical output;
    # extract_ram gets the per-variant lowercase it received before:
    # lower(title_clean) ≡ title_lower, lower(desc_head)).
    step = step.withColumns(
        {
            t
            + "ex": F.transform(
                F.array(tc, dh),
                lambda s: F.struct(
                    extract_cpu(s).alias("cpu"),
                    extract_ram(F.lower(s)).alias("ram"),
                    extract_gpu(s).alias("gpu"),
                ),
            )
        }
    )
    ex = F.col(t + "ex")
    # The per-field coalesces and the title-keyword category overrides
    # land in ONE pass: the coalesce expressions are cheap references to
    # the extraction ATTRIBUTES above, so inlining them into category
    # (same-batch expressions can't see same-batch columns) duplicates
    # only a coalesce node, not the extraction trees — and every
    # analysis pass saved here re-traverses the whole with_specs plan
    # (regex_analyzer.py:763-772).
    cpu0_e = F.coalesce(ex[0]["cpu"], ex[1]["cpu"])
    gpu_e = F.coalesce(ex[0]["gpu"], ex[1]["gpu"])
    step = step.withColumns(
        {
            t + "cpu0": cpu0_e,
            t + "ram0": F.coalesce(ex[0]["ram"], ex[1]["ram"]),
            p + "gpu": gpu_e,
            p + "category": F.when(tl.contains("chromebook"), "CHROMEBOOK")
            .when(contains_any(tl, ["macbook", "mac air", "mac pro", "imac"]), "APPLE")
            .when(tl.contains("surface"), "SURFACE")
            .otherwise(classify_prime_category(ft, cpu0_e, gpu_e)),
        }
    )
    cpu0, ram0 = F.col(t + "cpu0"), F.col(t + "ram0")
    category = F.col(p + "category")

    # X12: category constraints — RAM over cap → re-extract from the FULL
    # text under the cap; CHROMEBOOK+I7 → Celeron/Pentium override
    # (regex_analyzer.py:376-419). The cap when-chain references only the
    # category attribute, so it inlines into its two consumers below
    # (another full-tree analysis pass saved).
    limit = F.lit(RAM_LIMIT_DEFAULT)
    for cat_name, cap in RAM_LIMITS.items():
        limit = F.when(category == cat_name, F.lit(cap)).otherwise(limit)
    ram_int = F.coalesce(
        F.nullif(F.regexp_replace(F.coalesce(ram0, F.lit("")), "[^0-9]", ""), F.lit("")).cast(
            "int"
        ),
        F.lit(0),
    )
    step = step.withColumns(
        {
            p + "ram": F.when(ram_int > limit, extract_ram(ft, limit)).otherwise(ram0),
            p + "cpu": (
                F.when(
                    (category == "CHROMEBOOK")
                    & F.coalesce(cpu0.contains("I7"), F.lit(False))
                    & ft.contains("celeron"),
                    F.lit("INTEL CELERON"),
                )
                .when(
                    (category == "CHROMEBOOK")
                    & F.coalesce(cpu0.contains("I7"), F.lit(False))
                    & ft.contains("pentium"),
                    F.lit("INTEL PENTIUM"),
                )
                .otherwise(cpu0)
            ),
            p + "condition_regex": regex_condition(ft),
        }
    )
    return step.drop(*[c for c in step.columns if c.startswith(t)])
