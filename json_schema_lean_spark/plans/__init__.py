from .fused import validate_documents_fused  # noqa: F401
