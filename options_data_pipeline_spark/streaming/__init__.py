from .ohlc_stream import streaming_ohlc
from .sink import idempotent_append_batch

__all__ = ["streaming_ohlc", "idempotent_append_batch"]
