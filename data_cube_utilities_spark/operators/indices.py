"""Band-math index registry + WOfS water classifier — scalar expression layer.

Single-source design: every index is an ANSI-SQL expression template over
named band columns. The Spark operator is ``F.expr(template)`` (whole-stage
codegen, zero Python) and the DuckDB correctness oracle runs the *same
string*, so the two sides cannot drift. A numpy twin (`compute_np`) serves
the pixel-block UDF path.

Sources in the reference:
  NDVI/EVI/EVI2/SAVI/NBR      data_cube_utilities/vegetation.py:3-169
  NDWI                        data_cube_utilities/dc_water_classifier.py:48-87
  NDBI/DBSI                   data_cube_utilities/urbanization.py:5-57
  TSM / chlorophyll           data_cube_utilities/dc_water_quality.py:11-109
  SAR dn->dB                  data_cube_utilities/dc_sar_utils.py:7-10
  30+ recipe registry         dea_tools/dea_tools/bandindices.py:144-284
  WOfS regression tree        data_cube_utilities/dc_water_classifier.py:138-265

Band-ratio denominators are wrapped in nullif(.,0): NaN/NULL propagates to
the ELSE branch of any CASE identically in Spark, DuckDB and numpy.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _nr(a: str, b: str) -> str:
    """Normalized ratio (a-b)/(a+b), null-safe denominator."""
    return f"(({a}) - ({b})) / nullif(({a}) + ({b}), 0)"


# name -> SQL template with {band} placeholders.
# Canonical band names: blue green red nir swir1 swir2 (+ green2 etc. unused).
INDEX_TEMPLATES: dict[str, str] = {
    # vegetation.py:112-129
    "ndvi": _nr("{nir}", "{red}"),
    # vegetation.py:85-110
    "nbr": _nr("{nir}", "{swir2}"),
    # vegetation.py:132-169 (L=0.5, normalized=True -> /10000 scaling applied by caller)
    "savi": "(({nir}) - ({red})) / nullif(({nir}) + ({red}) + 0.5, 0) * 1.5",
    # vegetation.py:3-41 (G=2.5, C1=6, C2=7.5, L=1)
    "evi": "2.5 * (({nir}) - ({red})) / nullif(({nir}) + 6.0*({red}) - 7.5*({blue}) + 1.0, 0)",
    # vegetation.py:44-83 (G=2.5, C=2.4, L=1)
    "evi2": "2.5 * (({nir}) - ({red})) / nullif(({nir}) + 2.4*({red}) + 1.0, 0)",
    # dc_water_classifier.py:48-87 (band_pair 0: nir/swir1 Gao; 1: green/nir McFeeters)
    "ndwi": _nr("{nir}", "{swir1}"),
    "ndwi_mcfeeters": _nr("{green}", "{nir}"),
    # dea_tools bandindices.py MNDWI (Xu 2006)
    "mndwi": _nr("{green}", "{swir1}"),
    # urbanization.py:5-27
    "ndbi": _nr("{swir1}", "{nir}"),
    # urbanization.py:29-57 DBSI = (swir1-green)/(swir1+green) - NDVI
    "dbsi": f"({_nr('{swir1}', '{green}')}) - ({_nr('{nir}', '{red}')})",
    # dea_tools bandindices.py BSI
    "bsi": ("((({swir1}) + ({red})) - (({nir}) + ({blue}))) / "
            "nullif((({swir1}) + ({red})) + (({nir}) + ({blue})), 0)"),
    # dea_tools bandindices.py kNDVI = tanh(NDVI^2); tanh spelled via exp
    # because the sandbox DuckDB lacks tanh()
    "kndvi": (f"(exp(2 * power({_nr('{nir}', '{red}')}, 2)) - 1) / "
              f"(exp(2 * power({_nr('{nir}', '{red}')}, 2)) + 1)"),
    # dea_tools bandindices.py LAI (EVI-based, Boegh 2002)
    "lai": ("3.618 * (2.5 * (({nir}) - ({red})) / "
            "nullif(({nir}) + 6.0*({red}) - 7.5*({blue}) + 1.0, 0)) - 0.118"),
    # dea_tools bandindices.py NDMI
    "ndmi": _nr("{nir}", "{swir1}"),
    # dea_tools bandindices.py NDSI
    "ndsi": _nr("{green}", "{swir1}"),
    # dea_tools bandindices.py BAI (burn area index)
    "bai": "1.0 / nullif(power(0.10 - ({red}), 2) + power(0.06 - ({nir}), 2), 0)",
    # dea_tools bandindices.py AWEI_ns (Feyisa 2014)
    "awei_ns": ("4.0 * (({green}) - ({swir1})) - (0.25 * ({nir}) + 2.75 * ({swir2}))"),
    # dea_tools bandindices.py AWEI_sh
    "awei_sh": ("({blue}) + 2.5*({green}) - 1.5*(({nir}) + ({swir1})) - 0.25*({swir2})"),
    # dea_tools bandindices.py TCW/TCG/TCB (Crist 1985 coefficients)
    "tcw": ("0.0315*({blue}) + 0.2021*({green}) + 0.3102*({red}) + 0.1594*({nir}) "
            "- 0.6806*({swir1}) - 0.6109*({swir2})"),
    "tcg": ("-0.1603*({blue}) - 0.2819*({green}) - 0.4934*({red}) + 0.7940*({nir}) "
            "- 0.0002*({swir1}) - 0.1446*({swir2})"),
    "tcb": ("0.2043*({blue}) + 0.4158*({green}) + 0.5524*({red}) + 0.5741*({nir}) "
            "+ 0.3124*({swir1}) + 0.2303*({swir2})"),
    # dea_tools bandindices.py CMR / FMR / IOR (mineral ratios)
    "cmr": "({swir1}) / nullif(({swir2}), 0)",
    "fmr": "({swir1}) / nullif(({nir}), 0)",
    "ior": "({red}) / nullif(({blue}), 0)",
    # dc_water_quality.py:11-47 TSM (mg/L) over (red, green) surface reflectance
    "tsm": "3983.0 * power((({red}) + ({green})) * 0.0001 / 2.0, 1.6246)",
    # dc_water_quality.py:68-87 Watanabe chlorophyll-a
    "chl_watanabe": "925.001 * (({nir}) / nullif(({red}), 0)) - 77.16",
    # dc_water_quality.py:90-109 Nazeer chlorophyll-a
    "chl_nazeer": "0.57 * power((({red}) / nullif(({blue}), 0)), -2.4619)",
    # dc_sar_utils.py:7-10 SAR DN -> dB (cf = -83)
    "dn_to_db": "10.0 * log10(nullif(power({vv}, 2), 0)) - 83.0",
}

DEFAULT_BANDS = dict(blue="blue", green="green", red="red", nir="nir",
                     swir1="swir1", swir2="swir2", vv="vv")


def index_sql(name: str, **bands: str) -> str:
    """SQL expression string for index `name` over the given band columns."""
    mapping = dict(DEFAULT_BANDS, **bands)
    return INDEX_TEMPLATES[name].format(**mapping)


def index_col(name: str, **bands: str) -> Column:
    """Spark Column for index `name` (same SQL string via F.expr)."""
    return F.expr(index_sql(name, **bands))


def compute_np(name: str, **bands: np.ndarray) -> np.ndarray:
    """numpy twin for the pixel-block UDF path (float64, NaN on /0)."""
    b = {k: np.asarray(v, dtype=np.float64) for k, v in bands.items()}
    with np.errstate(divide="ignore", invalid="ignore"):
        def nr(x, y):
            d = x + y
            return np.where(d == 0, np.nan, (x - y) / np.where(d == 0, 1, d))
        if name == "ndvi":
            return nr(b["nir"], b["red"])
        if name == "nbr":
            return nr(b["nir"], b["swir2"])
        if name == "ndwi":
            return nr(b["nir"], b["swir1"])
        if name == "ndwi_mcfeeters":
            return nr(b["green"], b["nir"])
        if name == "mndwi":
            return nr(b["green"], b["swir1"])
        if name == "ndbi":
            return nr(b["swir1"], b["nir"])
        if name == "evi":
            d = b["nir"] + 6.0 * b["red"] - 7.5 * b["blue"] + 1.0
            return np.where(d == 0, np.nan, 2.5 * (b["nir"] - b["red"]) / np.where(d == 0, 1, d))
        if name == "savi":
            d = b["nir"] + b["red"] + 0.5
            return np.where(d == 0, np.nan, (b["nir"] - b["red"]) / np.where(d == 0, 1, d) * 1.5)
        if name == "kndvi":
            return np.tanh(nr(b["nir"], b["red"]) ** 2)
        raise KeyError(f"no numpy twin for {name!r}")


# ---------------------------------------------------------------------------
# WOfS regression tree (dc_water_classifier.py:138-265) — 21-leaf decision
# cascade over blue/green/red/nir/swir1/swir2, expressed as one nested CASE.
# Water=1, not-water=0; any NULL ratio falls through ELSE branches to 0,
# matching the numpy NaN-comparison behavior of the reference.
# ---------------------------------------------------------------------------

def wofs_sql(blue="blue", green="green", red="red", nir="nir",
             swir1="swir1", swir2="swir2") -> str:
    ndi52 = _nr(swir1, green)
    ndi43 = _nr(nir, red)
    ndi72 = _nr(swir2, green)
    return f"""CASE WHEN {ndi52} <= -0.01 THEN
  CASE WHEN {blue} <= 2083.5 THEN
    CASE WHEN {swir2} <= 323.5 THEN
      CASE WHEN {ndi43} <= 0.61 THEN 1 ELSE 0 END
    ELSE
      CASE WHEN {blue} <= 1400.5 THEN
        CASE WHEN {ndi72} <= -0.23 THEN
          CASE WHEN {ndi43} <= 0.22 THEN 1
          ELSE CASE WHEN {blue} <= 473.0 THEN 1 ELSE 0 END END
        ELSE CASE WHEN {blue} <= 379.0 THEN 1 ELSE 0 END END
      ELSE CASE WHEN {ndi43} <= -0.01 THEN 1 ELSE 0 END END
    END
  ELSE 0 END
ELSE
  CASE WHEN {ndi52} <= 0.23 THEN
    CASE WHEN {blue} <= 334.5 THEN
      CASE WHEN {ndi43} <= 0.54 THEN
        CASE WHEN {ndi52} <= 0.12 THEN 1
        ELSE
          CASE WHEN {red} <= 364.5 THEN
            CASE WHEN {blue} <= 129.5 THEN 1 ELSE 0 END
          ELSE CASE WHEN {blue} <= 300.5 THEN 1 ELSE 0 END END
        END
      ELSE 0 END
    ELSE 0 END
  ELSE
    CASE WHEN {ndi52} <= 0.34 THEN
      CASE WHEN {blue} <= 249.5 THEN
        CASE WHEN {ndi43} <= 0.45 THEN
          CASE WHEN {red} <= 364.5 THEN
            CASE WHEN {blue} <= 129.5 THEN 1 ELSE 0 END
          ELSE 0 END
        ELSE 0 END
      ELSE 0 END
    ELSE 0 END
  END
END"""


def pan_sharpen_brovey(band: Column, total: Column, pan: Column) -> Column:
    """Brovey pan-sharpening: band / total * pan
    (dea_tools/datahandling.py:663-701)."""
    return band / F.nullif(total, F.lit(0.0)) * pan


def wofs_np(blue, green, red, nir, swir1, swir2) -> np.ndarray:
    """numpy twin of the WOfS tree — the reference-semantics oracle.

    Re-derived from the published tree thresholds (not copied): returns
    uint8 water=1 / not-water=0; NaN ratios classify as 0.
    """
    b1, b2, b3, b4, b5, b7 = [np.asarray(x, dtype=np.float64)
                              for x in (blue, green, red, nir, swir1, swir2)]
    with np.errstate(divide="ignore", invalid="ignore"):
        ndi52 = (b5 - b2) / (b5 + b2)
        ndi43 = (b4 - b3) / (b4 + b3)
        ndi72 = (b7 - b2) / (b7 + b2)
    out = np.zeros(b1.shape, dtype=np.uint8)

    left = ndi52 <= -0.01
    lb = left & (b1 <= 2083.5)
    n_low7 = lb & (b7 <= 323.5)
    out[n_low7 & (ndi43 <= 0.61)] = 1
    hi7 = lb & ~(b7 <= 323.5)
    lo_blue = hi7 & (b1 <= 1400.5)
    out[(hi7 & ~(b1 <= 1400.5)) & (ndi43 <= -0.01)] = 1
    dark = lo_blue & (ndi72 <= -0.23)
    bright = lo_blue & ~(ndi72 <= -0.23)
    out[bright & (b1 <= 379.0)] = 1
    out[dark & (ndi43 <= 0.22)] = 1
    out[dark & ~(ndi43 <= 0.22) & (b1 <= 473.0)] = 1

    right = ~left
    mid = right & (ndi52 <= 0.23)
    m1 = mid & (b1 <= 334.5) & (ndi43 <= 0.54)
    out[m1 & (ndi52 <= 0.12)] = 1
    m2 = m1 & ~(ndi52 <= 0.12)
    out[m2 & (b3 <= 364.5) & (b1 <= 129.5)] = 1
    out[m2 & ~(b3 <= 364.5) & (b1 <= 300.5)] = 1
    hi = right & ~(ndi52 <= 0.23) & (ndi52 <= 0.34)
    out[hi & (b1 <= 249.5) & (ndi43 <= 0.45) & (b3 <= 364.5) & (b1 <= 129.5)] = 1
    return out


# Crist & Cicone (1985) Landsat-TM tasseled-cap coefficients x 10^4 —
# published constants (data, not code), integerized so the transform is
# an exact int64 dot product over the 6 reflective bands.
TASSELED_CAP_Q4 = {
    "brightness": (3037, 2793, 4743, 5585, 5082, 1863),
    "greenness": (-2848, -2435, -5436, 7243, 840, -1800),
    "wetness": (1509, 1973, 3279, 3406, -7112, -4572),
}
TC_BANDS = ("blue", "green", "red", "nir", "swir1", "swir2")


def tasseled_cap_col(component: str):
    """Tasseled-cap component (brightness / greenness / wetness) as an
    exact integer Column over integer band columns: the published
    coefficients are embedded x10^4, so the result is the classic
    transform scaled by 10^4 with ZERO float ops — hash-reproducible
    where the float dot product is ulp-ambiguous.  The land-cover
    change axes (Kauth-Thomas 1976 lineage) the reference's
    bandindices registry stops short of."""
    from pyspark.sql import functions as F

    coef = TASSELED_CAP_Q4[component]
    out = None
    for c, b in zip(coef, TC_BANDS):
        term = F.col(b) * F.lit(int(c))
        out = term if out is None else out + term
    return out.cast("long")


def tasseled_cap_sql(component: str) -> str:
    """DuckDB twin — identical integer dot product."""
    coef = TASSELED_CAP_Q4[component]
    return "(" + " + ".join(f"({b}) * ({c})"
                            for c, b in zip(coef, TC_BANDS)) + ")"
