"""Fluent facade mirroring the reference's two-class surface
(``PeakDetection`` / ``PeakAnalysis``, ``/root/reference/__init__.py:1-2``)
as one chainable pipeline over a channelized signal DataFrame.

All 14 reference tuning parameters are constructor arguments with the
reference's defaults (``/root/reference/peak_detection.py:12-18``); each
stage is a pure DataFrame→DataFrame transformation, so the whole chain
stays one lazy Catalyst plan and nothing is computed until an action
runs. The reference recomputes each envelope twice per analysis; here,
call ``.cache()`` after the expensive stages when running multiple
actions (e.g. ``attributes()`` and ``averages()``) so the derived frame
is materialized once.

Example::

    peaks = (
        PeakPipeline(signal_frame(spark, sf_dir, n_channels))
        .smooth().envelopes().diastolic().detect_peaks().attributes()
    )
    peaks.averages().show()

Reference quirks preserved (documented, not silently fixed):
``aux_peak_prominence`` is accepted but unused (the reference never
reads it, peak_detection.py:56,114); ``detect_stim_peaks`` ignores all
tuning parameters (peak_detection.py:296).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .operators.attributes import peak_attributes, peak_averages, with_crossings
from .operators.envelopes import envelope_step, with_diastolic
from .operators.fidelity import fidelity_peaks, fidelity_signal_columns
from .operators.native_peaks import KEPT, constrained_peaks_step
from .operators.peaks import naive_peaks, with_threshold_keep
from .operators.smooth import fir_smooth_step
from .operators.windows import extrema_step, map_channels
from .schema import DEFAULT_FS


class PeakPipeline:
    """Chainable peak-detection/analysis pipeline over a signal frame
    with columns (channel_id, sample_idx, time_index, signal_value)."""

    def __init__(
        self,
        df: DataFrame,
        stim: DataFrame | None = None,
        time_column: str = "time_index",
        signal_column: str = "signal_value",
        smooth_sig_smoothing_window: int = 51,
        smooth_sig_polyorder: int = 7,
        compute_from: str = "smooth",
        aux_window_size: int = 350,
        aux_peak_prominence: float = 0.2,  # accepted, unused (ref quirk)
        aux_smoothing_window: int = 301,
        aux_polyorder: int = 3,
        relative_to_baseline: float = 0.1,
        rel_height: float = 0.3,
        prominence: float = 0.3,
        width: float = 1,
        threshold: float = 0.7,
        min_distance: int = 20,
        wlen: int = 250,
        fs: float = DEFAULT_FS,
    ):
        self.df = df
        self.stim = stim
        self.p = {
            "time_column": time_column,
            "signal_column": signal_column,
            "smooth_window": smooth_sig_smoothing_window,
            "smooth_poly": smooth_sig_polyorder,
            "compute_from": compute_from,
            "window_size": aux_window_size,
            "aux_peak_prominence": aux_peak_prominence,
            "aux_smoothing": aux_smoothing_window,
            "aux_poly": aux_polyorder,
            "relative_to_baseline": relative_to_baseline,
            "rel_height": rel_height,
            "prominence": prominence,
            "width": width,
            "threshold": threshold,
            "min_distance": min_distance,
            "wlen": wlen,
            "fs": fs,
        }
        self._value_col = signal_column
        self._smoothed_from = None

    def _next(self, df: DataFrame) -> "PeakPipeline":
        out = PeakPipeline.__new__(PeakPipeline)
        out.df = df
        out.stim = self.stim
        out.p = self.p
        out._value_col = self._value_col
        out._smoothed_from = None
        return out

    def cache(self) -> "PeakPipeline":
        """Persist the current derived frame — call after ``envelopes()``
        /``detect_peaks()`` when multiple downstream actions will run."""
        return self._next(self.df.cache())

    # --- detection stages (PeakDetection parity) ---------------------------

    def normalized_stim(self) -> DataFrame:
        """S2: stim rescaled to the data's amplitude
        (peak_detection.py:28-29) — aggregate + 1-row broadcast, the
        scalable formulation of the reference's in-place mutation."""
        if self.stim is None:
            raise ValueError("no stim DataFrame supplied")
        v = self.p["signal_column"]
        scalars = self.df.agg(F.max(v).alias("_dm")).crossJoin(
            F.broadcast(self.stim.agg(F.max(v).alias("_sm")))
        )
        return self.stim.crossJoin(F.broadcast(scalars)).withColumn(
            v, F.col(v) * F.col("_dm") / F.col("_sm")
        ).drop("_dm", "_sm")

    def smooth(
        self,
        smoothing_window_length: int | None = None,
        polyorder: int | None = None,
    ) -> "PeakPipeline":
        """Per-call overrides fall back to the constructor defaults —
        the reference's ``if x is None: x = self.x`` pattern
        (peak_detection.py:65-78)."""
        if smoothing_window_length is None:
            smoothing_window_length = self.p["smooth_window"]
        if polyorder is None:  # `is None`, not `or`: polyorder 0 is valid
            polyorder = self.p["smooth_poly"]
        step = fir_smooth_step(
            self.p["signal_column"], "smooth", smoothing_window_length, polyorder
        )
        out = self._next(map_channels(self.df, step))
        out._smoothed_from = (self.df, step)
        if self.p["compute_from"] == "smooth":
            out._value_col = "smooth"
        return out

    def envelopes(
        self,
        window_size: int | None = None,
        smoothing_window_length: int | None = None,
        polyorder: int | None = None,
    ) -> "PeakPipeline":
        """Extrema flags + baseline/ceiling envelopes. Directly after
        ``smooth()`` (not after ``cache()``) the FIR smooth, the flags and
        the envelopes run in one per-channel Python stage."""
        if window_size is None:
            window_size = self.p["window_size"]
        if smoothing_window_length is None:
            smoothing_window_length = self.p["aux_smoothing"]
        if polyorder is None:  # `is None`, not `or`: polyorder 0 is valid
            polyorder = self.p["aux_poly"]
        v = self._value_col
        steps = [
            extrema_step(v),
            envelope_step(v, window_size, smoothing_window_length, polyorder),
        ]
        df = self.df
        if self._smoothed_from is not None:
            # directly on smooth(): the smooth joins the same per-channel call
            df, smooth = self._smoothed_from
            steps.insert(0, smooth)
        return self._next(map_channels(df, *steps))

    def diastolic(self, relative_to_baseline: float | None = None) -> "PeakPipeline":
        rel = (
            self.p["relative_to_baseline"]
            if relative_to_baseline is None
            else relative_to_baseline
        )
        return self._next(with_diastolic(self.df, relative_to_baseline=rel))

    def detect_peaks(
        self, threshold: float | None = None, constrained: bool = False
    ) -> "PeakPipeline":
        """Native route: plateau-midpoint maxima + envelope threshold
        filter (P2/P3). With ``constrained=True`` the maxima must also
        pass the reference's SciPy constraints (distance / prominence /
        width, peak_detection.py:251), computed per channel by
        :func:`~.operators.native_peaks.constrained_peaks_step` — the
        fully-native P1+P2 chain; for reference-EXACT edge behavior
        (block-pad smoothing) use :meth:`fidelity_peaks`."""
        th = self.p["threshold"] if threshold is None else threshold
        df, flag = self.df, "is_peak"
        if constrained:
            step = constrained_peaks_step(
                self._value_col,
                distance=self.p["min_distance"],
                prominence=self.p["prominence"],
                width=self.p["width"],
                rel_height=self.p["rel_height"],
                wlen=self.p["wlen"],
            )
            df, flag = map_channels(df, step), KEPT
        df = with_threshold_keep(df, value_col=self._value_col, threshold=th)
        return self._next(df.withColumn("_keep", F.col(flag) & F.col("keep_peak")))

    def crossing_points(self) -> DataFrame:
        """The reference's ttp_points/ttr_points per peak."""
        from .operators.attributes import peak_crossing_points

        df = with_crossings(self.df, smooth_col=self._value_col)
        return peak_crossing_points(df, keep_col="_keep", fs=self.p["fs"])

    def detect_stim_peaks(self, **_ignored) -> DataFrame:
        """P4: unconstrained maxima of the stim series. Tuning kwargs are
        accepted and ignored — exactly like the reference (:296)."""
        return naive_peaks(self.normalized_stim(), value_col=self.p["signal_column"])

    # --- analysis stages (PeakAnalysis parity) -----------------------------

    def attributes(self) -> DataFrame:
        df = with_crossings(self.df, smooth_col=self._value_col)
        return peak_attributes(
            df, keep_col="_keep", smooth_col=self._value_col, fs=self.p["fs"]
        )

    def averages(self) -> DataFrame:
        return peak_averages(self.attributes())

    # --- reference-exact route ---------------------------------------------

    def fidelity_peaks(self) -> DataFrame:
        """Full reference-exact pipeline (grouped-map pandas UDF)."""
        return fidelity_peaks(
            self.df,
            smooth_window=self.p["smooth_window"],
            smooth_poly=self.p["smooth_poly"],
            window_size=self.p["window_size"],
            aux_smoothing=self.p["aux_smoothing"],
            aux_poly=self.p["aux_poly"],
            relative_to_baseline=self.p["relative_to_baseline"],
            rel_height=self.p["rel_height"],
            prominence=self.p["prominence"],
            width=self.p["width"],
            threshold=self.p["threshold"],
            min_distance=self.p["min_distance"],
            wlen=self.p["wlen"],
            fs=self.p["fs"],
        )

    def fidelity_signal(self) -> DataFrame:
        return fidelity_signal_columns(self.df)
