"""Round-3 streaming additions.

The implementations live beside their siblings (streaming/windows.py);
only the registration is split out.
"""

from __future__ import annotations

from ..operators.events import EV2_ORACLE, EV12_ORACLE
from .windows import stream_ohlc_hourly, stream_sliding_windows

QUERIES = {
    "stream_sliding_windows": stream_sliding_windows,
    "stream_ohlc_hourly": stream_ohlc_hourly,
}
ORACLES = {
    "stream_sliding_windows": EV2_ORACLE,
    "stream_ohlc_hourly": EV12_ORACLE,
}
