from .driver import StreamingDriver  # noqa: F401
