"""Deterministic generator for the ingest workload's input archive.

One zip archive holding ENTRIES flat CSV entries of the 19-column
air-quality layout the ingest pipeline expects (exact names, typos
included), plus one nested entry and one `..` entry that the pipeline must
skip. Everything is a pure function of the seed.

Numeric cells are k / 10^d for integer k, the double a CSV reader parses
from the decimal text, so the pipeline's Parquet output can be compared
exactly against `expected_projection`.
"""
import io
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

COLUMNS = ["Date", "NO2", "O3", "PM10", "PM2.5", "Latitude", "Longitude",
           "station_name", "Wind-Speed (U)", "Wind-Speed (V)",
           "Dewpoint Temp", "Soil Temp", "Total Percipitation",
           "Vegitation (High)", "Vegitation (Low)", "Temp",
           "Relative Humidity", "code", "id"]
PROJECTED = COLUMNS[:8]
# the types the projection is compared under
SCHEMA = pa.schema([("Date", pa.date32())] +
                   [(c, pa.float64()) for c in PROJECTED[1:7]] +
                   [("station_name", pa.string())])

ENTRIES = 8
ROWS = 200_000  # over the flat entries
STATIONS = 40
# rows in a skipped entry carry this station name; none may reach the output
SKIPPED_STATION = "SKIPPED ENTRY"


def _fixed(rng, lo, hi, decimals, n):
    scale = 10 ** decimals
    return rng.integers(int(lo * scale), int(hi * scale) + 1, n) / scale


def _entry(rng, rows, station=None):
    first = np.datetime64("2018-01-01", "D").astype(np.int64)
    sid = rng.integers(0, STATIONS, rows)
    names = (pa.array([f"Station {i:02d}" for i in range(STATIONS)]).take(sid)
             if station is None else pa.array([station] * rows))
    cols = {
        "Date": pa.array((first + rng.integers(0, 6 * 365, rows)).astype(np.int32), pa.date32()),
        "NO2": _fixed(rng, 0, 120, 2, rows),
        "O3": _fixed(rng, 0, 180, 2, rows),
        "PM10": _fixed(rng, 0, 90, 2, rows),
        "PM2.5": _fixed(rng, 0, 60, 2, rows),
        "Latitude": 36.9 + sid * 0.05 + _fixed(rng, 0, 0.01, 4, rows),
        "Longitude": -9.4 + sid * 0.07 + _fixed(rng, 0, 0.01, 4, rows),
        "station_name": names,
    }
    for c in COLUMNS[8:17]:
        cols[c] = _fixed(rng, -20, 40, 3, rows)
    cols["code"] = rng.integers(1000, 9999, rows)
    cols["id"] = rng.integers(0, 1 << 30, rows)
    # the latitude/longitude offsets above are sums; round them back onto
    # the decimal grid so each cell is again exactly k / 10^4
    for c in ("Latitude", "Longitude"):
        cols[c] = np.round(cols[c] * 1e4) / 1e4
    return pa.table(cols)


def _csv(table):
    buf = io.BytesIO()
    pacsv.write_csv(table, buf)
    return buf.getvalue()


def generate(path, seed):
    """Write the archive; return (csv_bytes, row_count, expected projection)
    for the flat entries the pipeline reads."""
    rng = np.random.default_rng(seed)
    per_entry = [ROWS // ENTRIES + (1 if i < ROWS % ENTRIES else 0)
                 for i in range(ENTRIES)]
    kept, csv_bytes = [], 0
    # level 1 keeps generation cheap; inflate speed barely depends on it
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        for i, n in enumerate(per_entry):
            table = _entry(rng, n)
            data = _csv(table)
            zf.writestr(f"airq_{i:02d}.csv", data)
            csv_bytes += len(data)
            kept.append(table.select(PROJECTED))
        zf.writestr("nested/airq_nested.csv", _csv(_entry(rng, 100, SKIPPED_STATION)))
        zf.writestr("../airq_escape.csv", _csv(_entry(rng, 100, SKIPPED_STATION)))
    expected = pa.concat_tables(kept).cast(SCHEMA)
    return csv_bytes, expected.num_rows, expected


def normalise(table):
    """Cast a read-back projection onto SCHEMA and sort it, so two tables
    compare row for row regardless of file order."""
    cols = []
    for field in SCHEMA:
        col = table.column(field.name)
        if pa.types.is_timestamp(col.type):
            col = pc.cast(col, pa.date32())
        cols.append(pc.cast(col, field.type))
    t = pa.table(cols, schema=SCHEMA)
    return t.sort_by([(c, "ascending") for c in SCHEMA.names])
