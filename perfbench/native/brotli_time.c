/* Times one native libbrotli encode and decode of a file, in process.
 *
 * Usage: brotli_time <file> <quality>
 * Prints: <encode seconds> <decode seconds> <compressed bytes>
 * Exits non-zero if the round trip does not give back the input.
 *
 * Build: gcc -O2 -o brotli_time brotli_time.c -lbrotlienc -lbrotlidec
 */
#include <stdio.h>
#include <stdlib.h>
#include <string.h>
#include <time.h>
#include <brotli/encode.h>
#include <brotli/decode.h>

static double now(void) {
  struct timespec ts;
  clock_gettime(CLOCK_MONOTONIC, &ts);
  return ts.tv_sec + ts.tv_nsec / 1e9;
}

int main(int argc, char** argv) {
  if (argc != 3) { fprintf(stderr, "usage: %s <file> <quality>\n", argv[0]); return 2; }
  FILE* f = fopen(argv[1], "rb");
  if (!f) { perror(argv[1]); return 1; }
  fseek(f, 0, SEEK_END);
  long n = ftell(f);
  fseek(f, 0, SEEK_SET);
  uint8_t* in = malloc(n > 0 ? n : 1);
  if (fread(in, 1, n, f) != (size_t)n) { fprintf(stderr, "short read\n"); return 1; }
  fclose(f);

  size_t cap = BrotliEncoderMaxCompressedSize(n);
  if (cap < 1024) cap = 1024;
  uint8_t* comp = malloc(cap);
  size_t clen = cap;
  double t0 = now();
  if (!BrotliEncoderCompress(atoi(argv[2]), 22, BROTLI_MODE_GENERIC, n, in, &clen, comp)) {
    fprintf(stderr, "compress failed\n");
    return 1;
  }
  double t1 = now();
  uint8_t* back = malloc(n > 0 ? n : 1);
  size_t blen = n;
  if (BrotliDecoderDecompress(clen, comp, &blen, back) != BROTLI_DECODER_RESULT_SUCCESS) {
    fprintf(stderr, "decompress failed\n");
    return 1;
  }
  double t2 = now();
  if (blen != (size_t)n || memcmp(back, in, n) != 0) { fprintf(stderr, "round trip differs\n"); return 1; }
  printf("%.9f %.9f %zu\n", t1 - t0, t2 - t1, clen);
  return 0;
}
