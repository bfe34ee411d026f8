"""Seeded generator of Exness-layout monthly tick archives.

Each (instrument, month) yields two ZIP archives, the Raw_Spread variant
(`Exness_EURUSD_Raw_Spread_2024_01.zip`) and its Standard twin
(`Exness_EURUSD_2024_01.zip`), each holding one `Timestamp,Bid,Ask` CSV with
microsecond timestamps. The rows carry the properties the ingest path must
handle: ~98 % zero-spread Raw_Spread rows, ~1 % duplicate timestamps, a few
damaged lines, a minute with no Standard tick, ticks on the first and last
microsecond of the month, Saturdays left empty (the weekend gap), and the
Jan 1 holiday whenever January is generated.

The same seed gives byte-identical archives: every random draw comes from a
`random.Random` keyed on (seed, instrument, month, variant), and the ZIP
members carry a fixed timestamp.

Prices are kept as integers in units of 1e-5 so that expectations computed
here compare exactly with what the engine stores.
"""
import calendar
import datetime
import io
import zipfile

PRICE_BASE = {"EURUSD": 110000, "GBPUSD": 127000}
ZIP_TIME = (2024, 1, 1, 0, 0, 0)
EPOCH = datetime.datetime(1970, 1, 1)
US_PER_DAY = 86_400_000_000
DUP_SHARE = 0.01
ZERO_SPREAD_SHARE = 0.98
# one minute per month holds Raw_Spread ticks but no Standard tick: day 2,
# 10:00 UTC (never a Saturday in the months generated here)
QUIET_DAY, QUIET_HOUR = 2, 10


def month_bounds_us(year, month):
    """[first, last] microsecond of a UTC month, as epoch microseconds."""
    first = datetime.datetime(year, month, 1) - EPOCH
    days = calendar.monthrange(year, month)[1]
    lo = (first.days * 86400 + first.seconds) * 1_000_000
    return lo, lo + days * US_PER_DAY - 1


def is_saturday(t_us):
    # 1970-01-01 was a Thursday (weekday 3)
    return (t_us // US_PER_DAY + 3) % 7 == 5


_DAYS = {}


def fmt_ts(t_us):
    day, us = divmod(t_us, US_PER_DAY)
    date = _DAYS.get(day)
    if date is None:
        date = _DAYS[day] = (EPOCH + datetime.timedelta(days=day)).strftime("%Y-%m-%d")
    s, frac = divmod(us, 1_000_000)
    return f"{date} {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}.{frac:06d}"


def fmt_px(k):
    return f"{k // 100000}.{k % 100000:05d}"


def archive_name(instrument, variant, year, month):
    sym = f"{instrument}_Raw_Spread" if variant == "raw_spread" else instrument
    return f"Exness_{sym}_{year}_{month:02d}"


class Archive:
    """One monthly archive: its bytes plus what the engine must make of it."""

    def __init__(self, name, data, ticks, bad):
        self.name = name          # file name, `.zip` included
        self.data = data          # archive bytes
        self.ticks = ticks        # {timestamp_us: (bid_k, ask_k)} after dedup
        self.bad = bad            # damaged lines the reader must reject


def _variant(seed, instrument, year, month, variant, n):
    import random
    rng = random.Random(f"{seed}/{instrument}/{year}-{month:02d}/{variant}")
    lo, hi = month_bounds_us(year, month)
    quiet_lo = lo + (QUIET_DAY - 1) * US_PER_DAY + QUIET_HOUR * 3_600_000_000
    quiet = range(quiet_lo, quiet_lo + 60_000_000)
    stamps = {t for t in (lo, hi) if not is_saturday(t)}
    if variant == "raw_spread":
        stamps.add(quiet_lo + 30_000_000)
    # draws scale rng.random() rather than call randrange, which costs
    # several times more per tick
    rand = rng.random
    span = hi - lo + 1
    while len(stamps) < n:
        t = lo + int(rand() * span)
        if is_saturday(t) or (variant == "standard" and t in quiet):
            continue
        stamps.add(t)
    px = PRICE_BASE[instrument] + rng.randrange(-2000, 2000)
    rows, ticks = [], {}
    for t in sorted(stamps):
        px = max(1000, px + int(rand() * 7) - 3)
        if variant == "raw_spread":
            ask = px if rand() < ZERO_SPREAD_SHARE else px + 1 + int(rand() * 3)
        else:
            ask = px + 5 + int(rand() * 16)
        rows.append((t, px, ask))
        best = (px, ask)
        if rand() < DUP_SHARE:
            bid2 = px + rng.choice((-2, -1, 1, 2))
            ask2 = ask - px + bid2
            rows.append((t, bid2, ask2))
            best = max(best, (bid2, ask2))
        ticks[t] = best
    lines = [f"{fmt_ts(t)},{fmt_px(b)},{fmt_px(a)}" for t, b, a in rows]
    some = fmt_ts(rng.choice(rows)[0])
    damaged = [f"{some},{fmt_px(px)},N/A", some[:9], f"{some},not-a-price,{fmt_px(px)}"]
    for line in damaged:
        lines.insert(rng.randrange(len(lines) + 1), line)
    csv = ("Timestamp,Bid,Ask\n" + "\n".join(lines) + "\n").encode()
    name = archive_name(instrument, variant, year, month)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        info = zipfile.ZipInfo(name + ".csv", date_time=ZIP_TIME)
        info.compress_type = zipfile.ZIP_DEFLATED
        info.external_attr = 0o644 << 16
        zf.writestr(info, csv)
    return Archive(name + ".zip", buf.getvalue(), ticks, len(damaged))


def month_archives(seed, instrument, year, month, n_raw, n_std):
    """(raw_spread, standard) archives for one instrument-month."""
    return (_variant(seed, instrument, year, month, "raw_spread", n_raw),
            _variant(seed, instrument, year, month, "standard", n_std))


def write_archive(archive, directory):
    import os
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, archive.name)
    with open(path, "wb") as f:
        f.write(archive.data)
    return path


def ohlc_1m(raw_ticks):
    """Expected 1-minute bars from deduplicated Raw_Spread ticks:
    {minute_us: (open_k, high_k, low_k, close_k, count, spread_sum_k)}."""
    bars = {}
    for t in sorted(raw_ticks):
        bid, ask = raw_ticks[t]
        m = t - t % 60_000_000
        b = bars.get(m)
        if b is None:
            bars[m] = [bid, bid, bid, bid, 1, ask - bid]
        else:
            b[1] = max(b[1], bid)
            b[2] = min(b[2], bid)
            b[3] = bid
            b[4] += 1
            b[5] += ask - bid
    return {m: tuple(b) for m, b in bars.items()}


def resample(bars, minutes):
    """Bars of `minutes` width from 1m bars, floor-aligned to the epoch:
    {bucket_us: (open_k, high_k, low_k, close_k, count)}."""
    width = minutes * 60_000_000
    out = {}
    for m in sorted(bars):
        o, h, lo, c, n, _ = bars[m]
        k = m - m % width
        b = out.get(k)
        if b is None:
            out[k] = [o, h, lo, c, n]
        else:
            b[1] = max(b[1], h)
            b[2] = min(b[2], lo)
            b[3] = c
            b[4] += n
    return {k: tuple(b) for k, b in out.items()}
