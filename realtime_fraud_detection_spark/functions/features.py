"""The scalar expression library — SURVEY §2.7's eight feature families.

Everything here is a pure Column expression (JVM-side, whole-stage-codegen'd;
no UDFs), mirroring the semantics of the reference's FeatureExtractor
(services/flink-jobs/.../processors/FeatureExtractor.java:50-87 — ~62 features
in 8 categories) and the ML-side feature_processor.py. Each family function
returns an ordered dict of name -> Column so callers can `df.withColumns(...)`
or select a subset.

Because these are plain expressions, Catalyst folds constants, prunes unused
ones, and pushes any filter on them toward the scan — the reference computes
all 62 eagerly per record (TransactionProcessor.java:62); we compute only what
the query asks for.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Regex banks mirroring FeatureExtractor.java:30-41
SUSPICIOUS_CRYPTO = "(?i)(bitcoin|crypto|btc|ethereum|coin)"
SUSPICIOUS_GIFTCARD = "(?i)(gift ?card|prepaid|voucher)"
SUSPICIOUS_TRANSFER = "(?i)(money ?transfer|wire|remit)"
SUSPICIOUS_HIGH_RISK = "(?i)(casino|gambling|bet|adult)"

HIGH_RISK_CATEGORIES = ("gambling", "adult_entertainment", "jewelry")
HIGH_RISK_PAYMENT_SUBSTRINGS = ("prepaid", "gift", "crypto", "wire")

# Case-insensitive substring tests, written as ASCII `(?i)` regexes rather
# than `lower(c).contains(n)`. Spark 4.1 routes `lower()` through ICU case
# mapping, and the first `lower()` row in a JVM runs the static initializer
# of `CollationAwareUTF8String`, which title-cases every code point to fill
# a lookup table: ~2 s during which every task of the stage waits on the
# class-init monitor. The regex gives the same answer for these needles:
# Java `(?i)` folds ASCII only, and under ICU's root-locale lowercase the
# only non-ASCII code points that become ASCII letters are U+212A KELVIN
# SIGN (-> k; no needle contains k) and U+0130 (-> i + U+0307; every i in
# a needle is followed by a letter, so that U+0307 breaks the match).
SUSPICIOUS_USER_AGENT = "(?i)bot|crawler"
HIGH_RISK_PAYMENT = "(?i)" + "|".join(HIGH_RISK_PAYMENT_SUBSTRINGS)


# --------------------------------------------------------------------------
# Amount family (FeatureExtractor.java:92-131,386-392) — 12 features
# --------------------------------------------------------------------------
def amount_features(amount: Column, user_avg: Column | None = None,
                    merchant_avg: Column | None = None) -> dict[str, Column]:
    out = {
        "amount_log": F.log1p(amount),
        "amount_sqrt": F.sqrt(amount),
        "is_round_amount": (amount % 1 == 0),
        "is_round_10": (amount % 10 == 0),
        "is_round_100": (amount % 100 == 0),
        "amount_category": amount_category(amount),
    }
    if user_avg is not None:
        ratio = amount / F.nullif(user_avg, F.lit(0))
        out["amount_to_user_avg_ratio"] = ratio
        out["is_large_for_user"] = ratio > 3.0
        out["amount_zscore_user"] = (amount - user_avg) / F.nullif(user_avg, F.lit(0))
    if merchant_avg is not None:
        mratio = amount / F.nullif(merchant_avg, F.lit(0))
        out["amount_to_merchant_avg_ratio"] = mratio
        out["is_large_for_merchant"] = mratio > 2.0
    return out


def amount_category(amount: Column) -> Column:
    """5-level bucket (FeatureExtractor.java:386-392)."""
    return (
        F.when(amount < 10, "micro")
        .when(amount < 100, "small")
        .when(amount < 1000, "medium")
        .when(amount < 10000, "large")
        .otherwise("very_large")
    )


def amount_bucket_100(amount: Column) -> Column:
    """floor(amount/100)*100 — the J3 composite-key bucket (StreamJoiner.java:171-179)."""
    return (F.floor(amount / 100) * 100).cast("double")


def log10_bucket(amount: Column) -> Column:
    """A7 amount-clustering key (WindowProcessor.java:227-241)."""
    return F.floor(F.log10(F.greatest(amount, F.lit(1e-9))))


# --------------------------------------------------------------------------
# Temporal family (FeatureExtractor.java:136-168,394-399) — 8 features
# --------------------------------------------------------------------------
def temporal_features(ts: Column) -> dict[str, Column]:
    hour = F.hour(ts)
    dow = F.dayofweek(ts)  # 1=Sunday .. 7=Saturday
    return {
        "hour_of_day": hour,
        "day_of_week": dow,
        "day_of_month": F.dayofmonth(ts),
        "is_weekend": dow.isin(1, 7),
        "time_period": (
            F.when((hour >= 6) & (hour < 12), "morning")
            .when((hour >= 12) & (hour < 18), "afternoon")
            .when((hour >= 18) & (hour < 22), "evening")
            .otherwise("night")
        ),
        "is_business_hours": (hour >= 9) & (hour <= 17),
        "is_night_time": (hour <= 6) | (hour >= 22),
    }


def in_preferred_time(hour: Column, start: Column, end: Column) -> Column:
    """in_user_preferred_time (FeatureExtractor.java:394-399)."""
    return hour.between(start, end)


# --------------------------------------------------------------------------
# Geographic family (FeatureExtractor.java:173-211,401-417) — 6 features
# --------------------------------------------------------------------------
EARTH_RADIUS_KM = 6371.0


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance as a pure column expression (no UDF).

    Mirrors FeatureExtractor.java:401-417's Haversine.
    """
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) ** 2 + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) ** 2
    return 2 * EARTH_RADIUS_KM * F.atan2(F.sqrt(a), F.sqrt(1 - a))


def is_high_risk_location(lat: Column, lon: Column) -> Column:
    """|lat|>60 or (|lat|<10 and |lon|<10) (FeatureExtractor.java:185-195)."""
    return (F.abs(lat) > 60) | ((F.abs(lat) < 10) & (F.abs(lon) < 10))


def geo_features(lat: Column, lon: Column, mlat: Column, mlon: Column,
                 intl_preference: Column | None = None) -> dict[str, Column]:
    dist = haversine_km(lat, lon, mlat, mlon)
    out = {
        "has_geolocation": lat.isNotNull() & lon.isNotNull(),
        "is_high_risk_country": is_high_risk_location(lat, lon),
        "distance_to_merchant_km": dist,
    }
    if intl_preference is not None:
        # user_intl_preference / unexpected_intl (FeatureExtractor.java:401-417):
        # a far-from-merchant transaction by a user who almost never
        # transacts internationally (<0.1)
        pref = F.coalesce(intl_preference, F.lit(0.05))
        out["user_intl_preference"] = pref
        out["unexpected_intl"] = (dist > 1000.0) & (pref < 0.1)
    return out


def geo_grid_cell(lat: Column, lon: Column) -> Column:
    """1°x1° grid key `geo_{floor(lat)}_{floor(lon)}` (WindowProcessor.java:173-193)."""
    return F.concat_ws("_", F.lit("geo"), F.floor(lat).cast("string"), F.floor(lon).cast("string"))


# --------------------------------------------------------------------------
# Device / network family (FeatureExtractor.java:301-325,434-451) — 5 features
# --------------------------------------------------------------------------
def is_private_ip(ip: Column) -> Column:
    return (
        ip.startswith("192.168.") | ip.startswith("10.") | ip.startswith("172.16.")
    )


def device_features(ip: Column, user_agent: Column,
                    device_fp: Column | None = None,
                    known_fps: Column | None = None) -> dict[str, Column]:
    priv = is_private_ip(ip)
    out = {
        "is_private_ip": priv,
        "ip_risk_score": F.when(priv, 0.1).otherwise(0.3),
        "suspicious_user_agent": (
            # no lower(): see SUSPICIOUS_USER_AGENT
            user_agent.rlike(SUSPICIOUS_USER_AGENT)
            | (F.length(user_agent) < 20)
        ),
    }
    if device_fp is not None and known_fps is not None:
        known = F.array_contains(F.coalesce(known_fps, F.array()), device_fp)
        out["is_known_device"] = known
        out["is_new_device"] = ~known
    return out


# --------------------------------------------------------------------------
# Merchant-risk family (FeatureExtractor.java:257-296,427-432) — 8 features
# --------------------------------------------------------------------------
def merchant_features(name: Column, category: Column, risk_level: Column,
                      fraud_rate: Column, is_blacklisted: Column,
                      hour: Column | None = None,
                      open_hour: Column | None = None,
                      close_hour: Column | None = None) -> dict[str, Column]:
    out = {
        "merchant_risk_level": risk_level,
        "merchant_fraud_rate": F.coalesce(fraud_rate, F.lit(0.05)),
        "merchant_is_blacklisted": F.coalesce(is_blacklisted, F.lit(False)),
        "is_high_risk_category": category.isin(*HIGH_RISK_CATEGORIES),
        "suspicious_merchant_name": (
            name.rlike(SUSPICIOUS_CRYPTO)
            | name.rlike(SUSPICIOUS_GIFTCARD)
            | name.rlike(SUSPICIOUS_TRANSFER)
            | name.rlike(SUSPICIOUS_HIGH_RISK)
        ),
        "merchant_risk_multiplier": (
            F.when(risk_level == "high", 1.5)
            .when(risk_level == "medium", 1.2)
            .otherwise(1.0)
        ),
    }
    if hour is not None and open_hour is not None:
        out["within_merchant_hours"] = hour.between(open_hour, close_hour)
    return out


# --------------------------------------------------------------------------
# Contextual family (FeatureExtractor.java:368-382,486-493) — 5 features
# --------------------------------------------------------------------------
def contextual_features(payment_method: Column, transaction_type: Column) -> dict[str, Column]:
    return {
        # no lower(): see HIGH_RISK_PAYMENT
        "is_high_risk_payment": payment_method.rlike(HIGH_RISK_PAYMENT),
        "is_refund": transaction_type == "refund",
    }


# --------------------------------------------------------------------------
# User-behavior family (FeatureExtractor.java:216-252) — 10 features
# --------------------------------------------------------------------------
def user_features(created_at: Column, kyc_status: Column, risk_score: Column,
                  now: Column | None = None) -> dict[str, Column]:
    ref = now if now is not None else F.current_timestamp()
    age_days = F.datediff(ref.cast("date"), created_at.cast("date"))
    return {
        "account_age_days": age_days,
        "is_new_account": age_days < 30,
        "is_very_new_account": age_days < 7,
        "is_kyc_verified": kyc_status == "verified",
        # unknown-user default risk 0.8 (FeatureExtractor.java:223)
        "user_risk_score": F.coalesce(risk_score, F.lit(0.8)),
    }


# --------------------------------------------------------------------------
# ML-side derived + validation (feature_processor.py:224-275,330-373)
# --------------------------------------------------------------------------
def clamp(col: Column, lo: float, hi: float) -> Column:
    return F.least(F.greatest(col, F.lit(lo)), F.lit(hi))


def nan_to_default(col: Column, default: float) -> Column:
    return F.when(F.isnan(col) | col.isNull(), default).otherwise(col)


def hourly_velocity_ratio(cnt_1h: Column, cnt_24h: Column) -> Column:
    return cnt_1h / F.nullif(cnt_24h / 24.0, F.lit(0.0))


def combined_device_ip_risk(device_risk: Column, ip_risk: Column) -> Column:
    """mean of device and IP risk (feature_processor.py:224-275)."""
    return (device_risk + ip_risk) / 2.0


def is_late_night(ts: Column) -> Column:
    """is_late_night (feature_processor.py:258): deep-night hours."""
    return (F.hour(ts) >= 0) & (F.hour(ts) <= 4)


def velocity_flags(cnt_5min: Column, cnt_1h: Column) -> dict[str, Column]:
    """high_velocity_5min (>5) / high_velocity_1hour (>20)
    (FeatureExtractor.java:453-483)."""
    return {
        "high_velocity_5min": cnt_5min > 5,
        "high_velocity_1hour": cnt_1h > 20,
    }


def winsorize_fractions(
    df, col: str, lower: float = 0.01, upper: float = 0.99, exact: bool = True
) -> tuple[float, float]:
    """Train the clip bounds: the (lower, upper) quantiles of `col` — one
    percentile aggregate, driver state is two floats (fold them into any
    later plan as literals via :func:`winsorize`). `exact=False` switches
    to the mergeable percentile_approx sketch at corpus scale."""
    from pyspark.sql import functions as F

    fn = "percentile" if exact else "percentile_approx"
    row = df.agg(
        F.expr(f"{fn}({col}, array({lower}, {upper}))").alias("q")
    ).first()
    return float(row["q"][0]), float(row["q"][1])


def winsorize(col: Column, lo: float, hi: float) -> Column:
    """Clip to trained bounds — the standard heavy-tail guard before
    scaling/training (amount features in fraud scoring are the textbook
    case). Pure expression; nulls pass through."""
    from pyspark.sql import functions as F

    return F.least(F.greatest(col, F.lit(float(lo))), F.lit(float(hi)))
