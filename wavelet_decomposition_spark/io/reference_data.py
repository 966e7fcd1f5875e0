"""Read-only loaders for the reference repo's golden artifacts.

Everything here is consumed only by the parity test-suite and fixture
builders; the engine itself takes parquet/Iceberg tables as input.

Artifacts (see SURVEY.md §5):
- ``input_time_series.xlsx``   — 7 year-sheets, half-hourly Consumption/Wind/PV
- ``betas/*/betas_<signal>.xlsx`` — golden coefficients, one column per scale
- ``translation/trans_*_12_18.p`` — per-year [transday, transweek, transyear]
- ``saved_matrix/*/A_YYYY.npz``   — golden dictionaries, scipy CSR, read as
  the ``(rows, cols, vals)`` triplets ``WaveletDictionary.coo()`` returns
"""

from __future__ import annotations

import io
import pickle
import zipfile

import numpy as np

from ..kernel.xlsx import XlsxFile

REFERENCE_ROOT = "/root/reference"


class _IntListUnpickler(pickle.Unpickler):
    """Restricted unpickler: the translation files contain only nested lists
    of ints — refuse anything that needs a global lookup."""

    def find_class(self, module, name):  # pragma: no cover - defensive
        raise pickle.UnpicklingError(f"global {module}.{name} is forbidden")


def load_translations(shape: str, root: str = REFERENCE_ROOT) -> list[list[int]]:
    """Per-year ``[transday, transweek, transyear]`` from the reference's
    pickle (written at /root/reference/calc_translations.py:139)."""
    path = f"{root}/translation/trans_{shape}_12_18.p"
    with open(path, "rb") as fh:
        data = _IntListUnpickler(fh).load()
    out = []
    for row in data:
        vals = [int(v) for v in row]
        if len(vals) != 3:
            raise ValueError(f"bad translation row: {row!r}")
        out.append(vals)
    return out


def load_prepared_signal(
    signal: str,
    year: int,
    dpd: int = 48,
    ndpd: int = 64,
    dpy: int = 365,
    root: str = REFERENCE_ROOT,
) -> np.ndarray:
    """One year of input prepared exactly as the reference's ingest
    (/root/reference/import_excel.py:29-57): leap trim to dpd*dpy points,
    divide by the year mean, np.interp onto the ndpd/day grid. This is the
    signal the golden translations/betas were computed on."""
    series, _years = load_input_series(root)
    raw = series[signal][year][: dpd * dpy]
    raw = raw / raw.mean()
    oldx = np.arange(0, dpy, 1.0 / dpd)
    newx = np.arange(0, dpy, 1.0 / ndpd)
    return np.interp(newx, oldx, raw)


def load_npz_csr(path: str):
    """A scipy ``save_npz`` CSR file read with raw numpy (no scipy needed),
    as its nonzeros ``(rows, cols, vals)`` in CSR order: by row, then
    column, the order ``WaveletDictionary.coo()`` uses.

    scipy stores plain ``.npy`` members named data/indices/indptr/shape (and a
    ``format`` marker) inside a zip.
    """
    with zipfile.ZipFile(path) as zf:
        members = {}
        for name in zf.namelist():
            key = name[:-4] if name.endswith(".npy") else name
            with zf.open(name) as fh:
                members[key] = np.load(io.BytesIO(fh.read()), allow_pickle=False)
    fmt = members.get("format")
    if fmt is not None:
        fmt_str = bytes(fmt.tobytes()).decode("latin1").strip("\x00")
        if "csr" not in fmt_str:
            raise ValueError(f"unsupported sparse format: {fmt_str!r}")
    rows = np.repeat(
        np.arange(int(members["shape"][0]), dtype=np.int64),
        np.diff(members["indptr"].astype(np.int64)),
    )
    return (
        rows,
        members["indices"].astype(np.int64),
        members["data"].astype(np.float64),
    )


def load_golden_matrix(shape: str, year: int, root: str = REFERENCE_ROOT):
    """The reference's saved dictionary for (shape, year) as
    ``(rows, cols, vals)`` (:func:`load_npz_csr`)."""
    sub = "square_shape" if shape == "square" else "sine_shape"
    return load_npz_csr(f"{root}/saved_matrix/{sub}/A_{year}.npz")


_WORKBOOK_CACHE: dict[str, XlsxFile] = {}


def _open_workbook(path: str) -> XlsxFile:
    """Per-process memo of parsed golden workbooks (read-only artifacts):
    one betas workbook serves 7 year-sheets across 7 loader calls, and the
    XlsxFile instance memoizes each sheet's parse — so every sheet XML is
    parsed exactly once per process instead of ~17x7 times (the dominant
    cold-start cost of the golden-parity driver queries)."""
    wb = _WORKBOOK_CACHE.get(path)
    if wb is None:
        wb = XlsxFile(path)
        _WORKBOOK_CACHE[path] = wb
    return wb


def load_golden_betas(
    signal: str, year: int, root: str = REFERENCE_ROOT
) -> list[np.ndarray]:
    """Golden coefficient sheet for one (signal, year): a list of 16 arrays,
    scale_idx order (finest -> coarsest, then offset) — the exported column
    layout of /root/reference/wavelet_decomposition.py:294-295."""
    shape_dir = "sine_shape" if signal == "Wind" else "square_shape"
    wb = _open_workbook(f"{root}/betas/{shape_dir}/betas_{signal}.xlsx")
    sheet = str(year)
    out = []
    for col in range(16):
        vals = wb.column_floats(sheet, col)
        if not vals:
            break
        out.append(np.asarray(vals, dtype=np.float64))
    return out


def load_golden_betas_long(
    signals_years: list[tuple[str, int]], root: str = REFERENCE_ROOT
):
    """Golden coefficients for many (signal, year) pairs as ONE long pandas
    frame ``(series_id, year, scale_idx, pos, golden)`` — the layout of the
    engine's beta table (operators/decompose.BETA_SCHEMA), so parity checks
    are a single equi-join. Used by the full-decomposition driver query."""
    import pandas as pd

    frames = []
    for sig, year in signals_years:
        sheets = load_golden_betas(sig, year, root)
        for s, arr in enumerate(sheets):
            frames.append(
                pd.DataFrame(
                    {
                        "series_id": sig,
                        "year": np.int32(year),
                        "scale_idx": np.int32(s),
                        "pos": np.arange(arr.size, dtype=np.int32),
                        "golden": arr,
                    }
                )
            )
    return pd.concat(frames, ignore_index=True)


_INPUT_CACHE: dict = {}


def load_input_series(
    root: str = REFERENCE_ROOT,
) -> tuple[dict[str, dict[int, np.ndarray]], list[int]]:
    """Raw half-hourly input series, untrimmed: {signal: {year: values}}.

    Mirrors the read step of /root/reference/import_excel.py:22-39 (skip the
    title row, header names the columns); trimming/normalizing/resampling are
    engine operators, applied downstream. Memoized per process (read-only
    golden artifact; eight driver queries start from this workbook and the
    stdlib parse costs ~1 s each).
    """
    if root in _INPUT_CACHE:
        return _INPUT_CACHE[root]
    wb = XlsxFile(f"{root}/input_time_series.xlsx")
    signals = ("Consumption", "Wind", "PV")
    out: dict[str, dict[int, np.ndarray]] = {s: {} for s in signals}
    years = [int(s) for s in wb.sheet_names]
    for sheet in wb.sheet_names:
        cols = wb.columns(sheet)
        # row 0 = title, row 1 = header, rows 2+ = values
        header = {c: v for c, v in ((c, d.get(1)) for c, d in cols.items())}
        name_to_col = {v: c for c, v in header.items() if isinstance(v, str)}
        for sig in signals:
            col = cols[name_to_col[sig]]
            vals = []
            r = 2
            while r in col:
                vals.append(float(col[r]))
                r += 1
            out[sig][int(sheet)] = np.asarray(vals, dtype=np.float64)
    _INPUT_CACHE[root] = (out, years)
    return out, years
