from .materialize import latest_image

__all__ = ["latest_image"]
