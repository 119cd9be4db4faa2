"""Output checks against the engine's pandas oracle.

Each check compares row sets without regard to order with the parity
suite's own comparison (``tests/compare_util.compare_frames``): both sides
sorted on the output's key, strings and integers exactly, floats within the
suite's tolerances (some columns are rounded differently by Spark and
pandas). The checks run on collected outputs, outside every timed region.
"""

from __future__ import annotations

import pandas as pd

from tests.compare_util import compare_frames
from tests.test_batch_parity import ROUNDED

KEYS = {
    "accepted": ["conv_id", "day"],
    "rejected": ["conv_id", "day", "daily_submission_number"],
    "issues": ["conv_id", "filename", "file_stage", "error_message"],
    "turn_stats": ["conv_id", "turn_idx"],
    "audio_qc": ["conv_id", "day", "daily_submission_number"],
}
# the columns the audio_qc sink shares with the oracle's diary frame
AUDIO_QC_COLS = [
    "conv_id",
    "day",
    "daily_submission_number",
    "timeofday",
    "weekday",
    "submit_hour_int",
    "length_minutes",
    "overall_db",
    "mean_flatness",
    "subject_consent_month",
    "audio_approved_bool",
    "filename",
]


def frame_mismatch(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> str | None:
    """None when ``got`` holds exactly ``want``'s rows, else a reason."""
    try:
        compare_frames(got, want, keys, rounded_atol_cols=ROUNDED)
    except AssertionError as e:
        return str(e)
    return None


def batch_mismatch(got: dict[str, pd.DataFrame], oracle: dict[str, pd.DataFrame]) -> str | None:
    """The four batch outputs against ``oracle.pandas_oracle.compute``."""
    for name in ("accepted", "rejected", "issues", "turn_stats"):
        why = frame_mismatch(got[name], oracle[name], KEYS[name])
        if why:
            return f"{name}: {why}"
    return None


def audio_qc_mismatch(got: pd.DataFrame, oracle: dict[str, pd.DataFrame]) -> str | None:
    """The streaming audio_qc sink against the oracle's diaries, which are
    exactly the batch accepted and rejected diaries together."""
    why = frame_mismatch(got, oracle["audio_qc"][AUDIO_QC_COLS], KEYS["audio_qc"])
    return f"audio_qc: {why}" if why else None
