from .encode_stream import encode_stream  # noqa: F401
