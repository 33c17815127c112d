from . import drain, matrix, mining, multimodal, skew, stats, windows  # noqa: F401
