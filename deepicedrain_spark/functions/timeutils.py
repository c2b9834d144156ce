"""Time conversions (SURVEY F1/F2, §1.3).

Reference: ``deltatime_to_utctime`` at
/root/reference/deepicedrain/spatiotemporal.py:158-176 adds an ns
``delta_time`` to the ATLAS SDP GPS epoch 2018-01-01; slope scaling to
m/yr multiplies by ns-per-year at /root/reference/atlxi_dhdt.py:280.

Spark has µs-precision timestamps, so ns exactness is kept in parallel
``*_ns`` long columns (documented ns→µs truncation on the timestamp).
All arithmetic is integer/long — exact and Catalyst-foldable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ATLAS Standard Data Product epoch (reference spatiotemporal.py:160).
ATLAS_EPOCH = "2018-01-01T00:00:00"
NS_PER_YEAR = 365.25 * 24 * 60 * 60 * 1_000_000_000  # reference atlxi_dhdt.py:280
SECONDS_PER_DAY = 86_400


def deltatime_to_utctime(delta_ns: Column, epoch: str = ATLAS_EPOCH) -> Column:
    """ns offset since epoch → TimestampType (µs truncation).

    The epoch literal is resolved to UTC epoch-µs python-side:
    ``to_timestamp(lit)`` would interpret it in the session timezone,
    which the driver's vanilla session does not pin to UTC. The ns→µs
    step uses exact decimal division (ns_to_us) — double division
    rounds the int64 ns to the nearest representable double first
    (32 ns granularity by 2025-era offsets), which measurably shifted
    µs-aligned timestamps by 1 µs."""
    return F.timestamp_micros(F.lit(us_of(epoch)) + ns_to_us(delta_ns))


def utctime_to_deltans(ts: Column, epoch: str = ATLAS_EPOCH) -> Column:
    """TimestampType → ns offset since epoch (exact at µs resolution)."""
    return (F.unix_micros(ts) - F.lit(us_of(epoch))) * F.lit(1000)


def slope_per_ns_to_per_year(slope: Column) -> Column:
    """Regression slope in units/ns → units/year (SURVEY F2)."""
    return slope * F.lit(NS_PER_YEAR)


def ns_to_us(col: Column) -> Column:
    """Exact ns→µs truncation on a LongType ns column.

    Must stay in integer/decimal math: a ~1.7e18 ns value does not fit
    a double's 53-bit mantissa, so ``col / 1000`` would corrupt the low
    digits. Decimal division is exact at scale 6; the long cast
    truncates toward zero — matching how DuckDB's parquet reader
    truncates TIMESTAMP_NS to µs."""
    return (col.cast("decimal(38,0)") / F.lit(1000)).cast("long")


def ntz_epoch_us(col: Column) -> Column:
    """Epoch microseconds of a TIMESTAMP_NTZ wall-clock, treating the
    wall time as UTC — **independent of the session timezone**.

    ``cast(ntz AS timestamp)`` interprets the wall clock in the session
    timezone, so under the driver's vanilla (local-TZ) session it would
    shift every instant by the UTC offset; field extraction
    (date / hour / minute / fractional second) never consults a
    timezone. All integer/decimal math — exact."""
    days = F.datediff(col.cast("date"), F.lit("1970-01-01").cast("date")).cast("long")
    return (
        days * F.lit(86_400_000_000)
        + F.hour(col).cast("long") * F.lit(3_600_000_000)
        + F.minute(col).cast("long") * F.lit(60_000_000)
        + (F.date_part(F.lit("SECOND"), col) * F.lit(1_000_000)).cast("long")
    )


def timestamp_to_ns(col: Column, dtype) -> Column:
    """Normalize a parquet timestamp column to the engine's canonical
    epoch-ns LongType (§1.3), handling every encoding the testdata has
    shipped: LongType = already ns; TIMESTAMP_NTZ = wall-as-UTC via
    ``ntz_epoch_us``; TIMESTAMP (instant) = ``unix_micros``."""
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    if isinstance(dtype, LongType):
        return col
    if isinstance(dtype, TimestampNTZType):
        return ntz_epoch_us(col) * F.lit(1000)
    if isinstance(dtype, TimestampType):
        return F.unix_micros(col) * F.lit(1000)
    raise TypeError(f"unsupported timestamp encoding: {dtype}")


def us_of(iso: str) -> int:
    """Python-side: UTC epoch microseconds of an ISO date/datetime."""
    from datetime import datetime, timezone

    fmt = "%Y-%m-%dT%H:%M:%S" if "T" in iso else "%Y-%m-%d"
    dt = datetime.strptime(iso, fmt).replace(tzinfo=timezone.utc)
    return int(dt.timestamp()) * 1_000_000
